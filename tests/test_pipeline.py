"""End-to-end VectorPipeline: stage → parse → embed → index → search → manage.

Mirrors the reference lifecycle (SURVEY §3): upload → batch_parse_by_folder →
insert → index/document → search → unique-filepath/delete.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from auto_vectordb_spark.operators import bm25 as BM25
from auto_vectordb_spark.operators import hybrid as HY
from auto_vectordb_spark.operators import knn as KNN
from auto_vectordb_spark.pipeline import PAGE_CHARS, TERMS, VectorPipeline, text_page_parser


@pytest.fixture(scope="module")
def pipe(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("vp")
    # source docs: two categorized files, one with form-feed pages
    src = base / "src"
    src.mkdir()
    (src / "spark_intro.txt").write_text(
        "spark is a distributed engine for large data\f"
        "catalyst optimizes logical plans into physical plans"
    )
    (src / "cooking.txt").write_text("how to bake bread with flour yeast and water")
    p = VectorPipeline(spark, str(base / "store"), dim=64)
    p.stage_files([str(src / "spark_intro.txt")], server_path="tech/bigdata")
    p.stage_files([str(src / "cooking.txt")], server_path="food")
    chunks = p.embed(p.parse())
    p.save_corpus(chunks, mode="overwrite")
    p.build_index()
    return p


def test_text_parser_pages():
    assert text_page_parser("x", b"a\fb\fc") == [(0, "a"), (1, "b"), (2, "c")]
    long = b"x" * (PAGE_CHARS + 1)
    assert [pg for pg, _ in text_page_parser("x", long)] == [0, 1]


def test_parse_derives_canonical_chunks(pipe):
    rows = {(r["filename"], r["page"]): r for r in pipe.corpus().collect()}
    assert ("spark_intro.txt", "0") in rows and ("spark_intro.txt", "1") in rows
    r = rows[("spark_intro.txt", "0")]
    # F6 category split from path after uploaded/
    assert (r["lv1_cat"], r["lv2_cat"], r["lv3_cat"]) == ("tech", "bigdata", "")
    # F5 context prefix with stem + categories
    assert r["page_content"].startswith(
        "This page explains spark_intro that belongs to tech, bigdata categories."
    )
    # F1 md5 identity columns
    import hashlib

    assert r["hashed_filename"] == hashlib.md5(b"spark_intro.txt").hexdigest()
    assert r["hashed_page_content"] == hashlib.md5(r["page_content"].encode()).hexdigest()


def test_embeddings_normalized(pipe):
    v = pipe.corpus().select("embeddings").first()["embeddings"]
    assert len(v) == 64
    assert abs(float(np.linalg.norm(v)) - 1.0) < 1e-5


def test_parse_error_rows_not_abort(spark, tmp_path):
    base = tmp_path / "store2"
    src = tmp_path / "up"
    src.mkdir()
    (src / "good.txt").write_text("fine")
    (src / "bad.txt").write_text("boom")

    def flaky(path, content):
        if "bad" in path:
            raise RuntimeError("parse exploded")
        return text_page_parser(path, content)

    p = VectorPipeline(spark, str(base), dim=16)
    chunks = p.parse(str(src), parser=flaky)
    by_status = {r["status"]: r for r in chunks.collect()}
    assert by_status["failed"]["error"] == "parse exploded"
    assert by_status["failed"]["page_content"] is None
    assert by_status["success"]["page_content"].endswith("fine")


def test_hybrid_search_ranks_relevant_doc_first(pipe):
    hits = pipe.search("catalyst optimizes plans", size=3).collect()
    assert hits and "catalyst" in hits[0]["page_content"]
    assert all(hits[i]["score"] >= hits[i + 1]["score"] for i in range(len(hits) - 1))


def test_search_modes_and_guards(pipe):
    assert pipe.search("bread flour", mode="bm25", size=2).count() >= 1
    assert pipe.search("bread flour", mode="knn", size=2).count() == 2
    rr = pipe.search("bread flour", mode="rerank", size=2).collect()
    assert len(rr) >= 1 and "bread" in rr[0]["page_content"]
    with pytest.raises(ValueError):
        pipe.search("x", mode="nope")
    # min_score cuts everything at an absurd threshold
    assert pipe.search("bread", min_score=1e9).count() == 0


def test_management_surface(spark, tmp_path):
    base = tmp_path / "store3"
    src = tmp_path / "up3"
    src.mkdir()
    (src / "a.txt").write_text("alpha")
    (src / "b.txt").write_text("beta")
    p = VectorPipeline(spark, str(base), dim=16)
    p.save_corpus(p.embed(p.parse(str(src))), mode="overwrite")
    assert p.count() == 2
    fps = p.distinct_filepaths()
    assert len(fps) == 2
    # scale path: same distinct set, never collected
    df = p.distinct_filepaths_df()
    assert df.columns == ["hashed_filepath"]
    assert {r["hashed_filepath"] for r in df.collect()} == set(fps)
    assert p.get_by_hashed_filepath(fps[0]).count() == 1
    victim = p.corpus().first()["id"]
    p.delete_by_ids([victim])
    assert p.count() == 1
    assert victim not in [r["id"] for r in p.corpus().collect()]


def test_category_search_prunes_partitions(pipe):
    """categories= must turn into a PARTITION filter on the lv1_cat-partitioned
    corpus (directories skipped at planning), and only return in-category hits."""
    hits = pipe.search("bread flour water", size=5, categories=["food"]).collect()
    assert hits and all(r["lv1_cat"] == "food" for r in hits)
    corpus = pipe.corpus().filter(F.col("lv1_cat").isin(["food"]))
    plan = corpus._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters")[1][:200]
    assert "lv1_cat" in pf


def _seq(scala_seq):
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _plan_nodes(plan):
    """Every node of an executed physical plan, through adaptive plans and
    query stages. A cached frame's InMemoryTableScan is a leaf here: the
    plan that BUILT the cache (its parquet scan) is not part of the query."""
    name = plan.getClass().getSimpleName()
    yield name, plan
    if name == "AdaptiveSparkPlanExec":
        kids = [plan.executedPlan()]
    elif name.endswith("QueryStageExec"):
        kids = [plan.plan()]
    else:
        kids = _seq(plan.children())
    for kid in kids:
        yield from _plan_nodes(kid)


def test_search_plan_reads_only_pinned_frames(pipe):
    """After build_index a query reads the pinned search side only: no
    parquet scan, no cross product, and every cached-frame scan outputs
    search-side columns (no BM25 postings, doc_lens, term_df or stats
    pin). The hybrid case is the fused kernel's hit fetch; the rerank
    case adds the token-overlap second stage over the fetched rows."""
    side = set(pipe._search_side.columns)
    for mode in ("hybrid", "rerank"):
        df = pipe.search("bread flour catalyst", size=3, mode=mode, categories=["food"])
        assert df.collect(), mode
        nodes = list(_plan_nodes(df._jdf.queryExecution().executedPlan()))
        names = [n for n, _ in nodes]
        assert "InMemoryTableScanExec" in names, mode
        assert "FileSourceScanExec" not in names, mode
        assert "CartesianProductExec" not in names, mode
        for name, node in nodes:
            if name == "InMemoryTableScanExec":
                cols = {a.name() for a in _seq(node.output())}
                assert cols <= side, (mode, cols - side)


def _tokens(text):
    import re

    return [t for t in re.split("[^a-z0-9]+", (text or "").lower()) if t]


def _reference_hits(rows, qvec, text, size, categories=None):
    """Plain-Python POST /search: Lucene BM25 (k1=1.2, b=0.75) top
    max(10·size, 50) over the whole corpus, cosine × 0.8 for every page
    with a valid vector, weighted sum over the union, category scope on
    both legs, min_score 0.0, ties by id."""
    import math
    from collections import Counter

    k1, b = 1.2, 0.75
    docs = {r["id"]: Counter(_tokens(r["page_content"])) for r in rows}
    dl = {d: sum(c.values()) for d, c in docs.items() if c}
    n, avgdl = len(dl), sum(dl.values()) / len(dl)
    bm25 = {}
    for term in set(_tokens(text)):
        having = [d for d, c in docs.items() if term in c]
        idf = math.log(1.0 + (n - len(having) + 0.5) / (len(having) + 0.5))
        for d in having:
            tf = docs[d][term]
            bm25[d] = bm25.get(d, 0.0) + idf * (
                tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl[d] / avgdl))
            )
    cut = dict(sorted(bm25.items(), key=lambda kv: (-kv[1], kv[0]))[: max(10 * size, 50)])
    q = np.asarray(qvec, dtype=np.float64)
    fused = {}
    for r in rows:
        if categories is not None and r["lv1_cat"] not in categories:
            continue
        v = r["embeddings"]
        knn = None
        if v is not None and len(v) == len(q):
            c = np.asarray(v, dtype=np.float64)
            knn = float(c @ q / (np.linalg.norm(c) * np.linalg.norm(q)))
        if r["id"] in cut or knn is not None:
            fused[r["id"]] = cut.get(r["id"], 0.0) + 0.8 * (knn or 0.0)
    hits = [(d, s) for d, s in fused.items() if s >= 0.0]  # min_score=0.0
    return sorted(hits, key=lambda kv: (-kv[1], kv[0]))[:size]


@pytest.fixture(scope="module")
def malformed_store(spark, tmp_path_factory):
    """A pipeline whose corpus holds one page with a NULL vector and one
    with a short vector, both written through save_corpus."""
    base = tmp_path_factory.mktemp("vp_bad")
    src = base / "src"
    src.mkdir()
    (src / "engines.txt").write_text(
        "spark shuffles stages\fcatalyst rewrites plans\fwhisk eggs with sugar"
    )
    (src / "baking.txt").write_text("bread needs flour and yeast\fovens bake bread")
    p = VectorPipeline(spark, str(base / "store"), dim=16)
    p.stage_files([str(src / "engines.txt")], server_path="tech")
    p.stage_files([str(src / "baking.txt")], server_path="food")
    chunks = p.embed(p.parse())
    fname, page = F.col("filename"), F.col("page")
    null_page = (fname == "engines.txt") & (page == "2")  # whisk eggs ...
    short_page = (fname == "baking.txt") & (page == "1")  # ovens bake bread
    chunks = chunks.withColumn(
        "embeddings",
        F.when(null_page, F.lit(None).cast("array<float>"))
        .when(short_page, F.array(F.lit(1.0).cast("float"), F.lit(0.5).cast("float")))
        .otherwise(F.col("embeddings")),
    )
    p.save_corpus(chunks, mode="overwrite")
    p.build_index()
    assert p._bm25.n_docs == 5  # materializes the pinned frames
    rows = p.corpus().collect()
    bad = {r["id"] for r in rows if r["embeddings"] is None or len(r["embeddings"]) != 16}
    assert len(bad) == 2
    return p, rows, bad


@pytest.mark.parametrize(
    "text,categories",
    [
        ("bread flour", None),
        ("bread flour", ["food"]),
        ("whisk catalyst", None),
        ("spark plans", ["tech"]),
    ],
)
def test_search_matches_driver_reference(malformed_store, text, categories):
    p, rows, bad = malformed_store
    got = [
        (r["id"], r["score"])
        for r in p.search(text, size=10, categories=categories).collect()
    ]
    want = _reference_hits(rows, p.embed_texts([text])[0], text, 10, categories)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert abs(gs - ws) <= 1e-9 * max(1.0, abs(ws))
    # a page without a usable vector is a hit only through a query term
    terms = set(_tokens(text))
    by_id = {r["id"]: r for r in rows}
    for d, _ in got:
        if d in bad:
            assert terms & set(_tokens(by_id[d]["page_content"]))


def _composed_fused(p, text, size, k, mode, categories, min_score):
    """The search's first stage as a composition of the library's
    DataFrame operators: fuse_weighted over BM25.search ⋉ scope (the
    BM25 top max(10·size, 50)) and cosine_scores_blas, cut to ``k``."""
    side = p._search_side.drop(TERMS)
    if categories is not None:
        side = side.filter(F.col("lv1_cat").isin(categories))
    queries = p.spark.createDataFrame([(0, text)], ["query_id", "query_text"])
    bm25 = BM25.search(p._bm25, queries, k=max(10 * size, 50)).join(
        side.select(F.col("id").alias("doc_id")), "doc_id", "left_semi"
    )
    knn = KNN.cosine_scores_blas(
        side.select(F.col("id").alias("doc_id"), "embeddings"),
        np.zeros(1, dtype=np.int64),
        np.asarray(p.embed_texts([text]), dtype=np.float64),
        corpus_id="doc_id",
        corpus_vec="embeddings",
    )
    legs = {"hybrid": (bm25, knn), "bm25": (bm25, knn.limit(0)), "knn": (bm25.limit(0), knn)}
    return HY.fuse_weighted(*legs[mode], min_score=min_score, k=k)


def _composed_hits(p, text, size, mode, categories, min_score):
    """The search as a composition of the library's DataFrame operators."""
    fused = _composed_fused(p, text, size, size, mode, categories, min_score)
    rows = fused.orderBy(F.col("score").desc(), F.col("doc_id").asc()).collect()
    return [(r["doc_id"], r["score"]) for r in rows]


@pytest.mark.parametrize("min_score", [0.0, -1.0])
@pytest.mark.parametrize("categories", [None, ["food"]])
@pytest.mark.parametrize("mode", ["hybrid", "bm25", "knn"])
def test_fused_search_matches_composed_operators(malformed_store, mode, categories, min_score):
    p, _, _ = malformed_store
    text = "whisk bread"  # matches both pages without a usable vector
    got = [
        (r["id"], r["score"])
        for r in p.search(
            text, size=3, mode=mode, categories=categories, min_score=min_score
        ).collect()
    ]
    want = _composed_hits(p, text, 3, mode, categories, min_score)
    assert got and [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert abs(gs - ws) <= 1e-9 * max(1.0, abs(ws))


@pytest.mark.parametrize("categories", [None, ["food"]])
def test_rerank_matches_composed_first_stage(malformed_store, categories):
    """rerank = rerank_token_overlap over the composed hybrid top
    max(4·size, 20): the fused kernel's first stage is exact at any cut."""
    p, _, _ = malformed_store
    text, size = "whisk bread", 3
    got = [
        (r["id"], r["score"])
        for r in p.search(text, size=size, mode="rerank", categories=categories).collect()
    ]
    stage1 = _composed_fused(p, text, size, max(4 * size, 20), "hybrid", categories, 0.0)
    docs = p._search_side.select(F.col("id").alias("doc_id"), "page_content")
    queries = p.spark.createDataFrame([(0, text)], ["query_id", "query_text"])
    rows = (
        HY.rerank_token_overlap(stage1, queries, docs, k=size, text_col="page_content")
        .orderBy(F.col("rerank_score").desc(), F.col("doc_id").asc())
        .collect()
    )
    want = [(r["doc_id"], r["rerank_score"]) for r in rows]
    assert got and [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert abs(gs - ws) <= 1e-9


def test_search_scores_are_fused_topk_scores_exactly(malformed_store, monkeypatch):
    """search() hands fused_topk's scores to the fetched rows as one SQL
    map literal: every score comes back as the same double (``==``),
    negative knn-mode scores and exponent-form reprs included."""
    p, _, _ = malformed_store
    real, seen = HY.fused_topk, []

    def spy(*args, **kwargs):
        seen.append(real(*args, **kwargs))
        return seen[-1]

    def tiny(*args, **kwargs):
        seen.append([(d, s * 1e-7 - 3e-12) for d, s in real(*args, **kwargs)])
        return seen[-1]

    monkeypatch.setattr(HY, "fused_topk", spy)
    rows = p.search("eggs", size=10, mode="knn", min_score=-1.0).collect()
    got = {r["id"]: r["score"] for r in rows}
    assert got == dict(seen[-1]) and min(got.values()) < 0
    monkeypatch.setattr(HY, "fused_topk", tiny)
    got = {r["id"]: r["score"] for r in p.search("bread flour", size=10).collect()}
    assert got == dict(seen[-1]) and all("e" in repr(s) for s in got.values())


def test_search_result_columns_match_the_corpus(malformed_store):
    """Every mode, and both empty-result paths, return ``score`` plus the
    corpus columns: the search side's internal term column never leaks."""
    p, _, _ = malformed_store
    want = ["score", *p.corpus().columns]
    for mode in ("hybrid", "bm25", "knn", "rerank"):
        assert p.search("bread flour", size=2, mode=mode).columns == want, mode
    empty = p.search("bread", min_score=1e9)
    assert empty.columns == want and empty.count() == 0
    oov = p.search("zyzzyva quux", mode="bm25")
    assert oov.columns == want and oov.count() == 0
    assert dict(empty.dtypes)["score"] == "double"


def test_delete_rebuilds_index_from_current_corpus(spark, tmp_path):
    """delete_by_ids writes a staging path and renames it; the index built
    afterwards must see the surviving corpus only, not frames Spark cached
    over the old files."""
    src = tmp_path / "src_del"
    src.mkdir()
    (src / "a.txt").write_text("alpha beta")
    (src / "b.txt").write_text("alpha gamma")
    store = str(tmp_path / "store_del")
    p = VectorPipeline(spark, store, dim=16)
    p.save_corpus(p.embed(p.parse(str(src))), mode="overwrite")
    p.build_index()
    assert p._bm25.n_docs == 2  # materializes the pinned frames
    victim = p.corpus().orderBy("id").first()["id"]
    p.delete_by_ids([victim])
    p.build_index()
    assert p._bm25.n_docs == 1
    # min_score=-1 keeps every union member, whatever its cosine's sign
    hits = [(r["id"], r["score"]) for r in p.search("alpha", min_score=-1.0).collect()]
    p._invalidate()  # the fresh pipeline must build from the files, not p's pins
    fresh = VectorPipeline(spark, store, dim=16)
    want = [(r["id"], r["score"]) for r in fresh.search("alpha", min_score=-1.0).collect()]
    assert hits == want
    assert len(hits) == 1 and hits[0][0] != victim


def test_training_set_build_respects_budget(spark, sf_dir):
    from auto_vectordb_spark.pipeline import build_training_set

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = build_training_set(docs, quality_min=0.5, token_budget=2000).collect()
    assert out
    assert max(r["cum_tokens"] for r in out) <= 2000
    assert all(r["quality"] >= 0.5 for r in out)


def test_clear_staging_keeps_folder(spark, tmp_path):
    """S17 — reference _clear_folder contract (parsing.py:157-169): wipe the
    staging dir's contents (files AND subfolders), keep the dir, raise when
    it does not exist."""
    p = VectorPipeline(spark, str(tmp_path / "store_s17"), dim=16)
    up = tmp_path / "store_s17" / "uploaded"
    (up / "cat").mkdir(parents=True)
    (up / "top.txt").write_text("x")
    (up / "cat" / "nested.txt").write_text("y")
    p.clear_staging()
    assert up.exists() and list(up.iterdir()) == []
    with pytest.raises(FileNotFoundError):
        p.clear_staging(str(tmp_path / "nope"))


def test_save_corpus_remove_original_gating(spark, tmp_path):
    """remove_original mirrors parsing.py:286-287 — staged originals are
    wiped only AFTER the corpus write materialized them."""
    src = tmp_path / "src17"
    src.mkdir()
    (src / "doc.txt").write_text("gamma delta")
    p = VectorPipeline(spark, str(tmp_path / "store_s17b"), dim=16)
    p.stage_files([str(src / "doc.txt")], server_path="misc")
    staged = p.base / "uploaded" / "misc" / "doc.txt"
    assert staged.exists()
    p.save_corpus(p.embed(p.parse()), mode="overwrite", remove_original=True)
    assert not staged.exists()
    assert p.count() == 1  # data survived the wipe — it was written first


def test_embed_backend_seam(spark, tmp_path):
    """register_backend → embed_udf → VectorPipeline.embed with a genuinely
    different backend (randproj: per-worker weight matrix + batch matmul —
    the mechanics a real model backend uses). Distinct from `hash` output,
    still unit-normalized, deterministic across runs."""
    src = tmp_path / "srcb"
    src.mkdir()
    (src / "a.txt").write_text("spark catalyst tungsten")
    p_hash = VectorPipeline(spark, str(tmp_path / "sb1"), dim=32, embed_backend="hash")
    p_rand = VectorPipeline(spark, str(tmp_path / "sb2"), dim=32, embed_backend="randproj")
    v_hash = p_hash.embed(p_hash.parse(str(src))).first()["embeddings"]
    v_rand = p_rand.embed(p_rand.parse(str(src))).first()["embeddings"]
    v_rand2 = p_rand.embed(p_rand.parse(str(src))).first()["embeddings"]
    assert abs(float(np.linalg.norm(v_rand)) - 1.0) < 1e-5
    assert list(v_rand) == list(v_rand2)  # deterministic
    assert list(v_rand) != list(v_hash)  # a real second implementation
    # driver-side query embedding goes through the same registry
    q = p_rand.embed_texts(["spark catalyst tungsten"])[0]
    assert len(q) == 32 and abs(float(np.linalg.norm(q)) - 1.0) < 1e-5


def test_embed_backend_custom_registration(spark, tmp_path):
    """A user-registered backend (the production seam) flows end-to-end."""
    from auto_vectordb_spark.functions.embedding import register_backend

    def constant_factory(dim):
        def embed(texts):
            out = np.zeros((len(texts), dim), dtype=np.float32)
            out[:, 0] = 1.0
            return out

        return embed

    register_backend("const-test", constant_factory)
    src = tmp_path / "srcc"
    src.mkdir()
    (src / "a.txt").write_text("anything")
    p = VectorPipeline(spark, str(tmp_path / "sbc"), dim=8, embed_backend="const-test")
    v = p.embed(p.parse(str(src))).first()["embeddings"]
    assert list(v) == [1.0] + [0.0] * 7


def test_sentence_transformers_backend_when_available(spark):
    """Real-model backend (reference bge-m3): green where the lib exists,
    cleanly skipped where not (this container lacks it by design)."""
    pytest.importorskip("sentence_transformers")
    from auto_vectordb_spark.functions.embedding import _BACKENDS

    assert "bge-m3" in _BACKENDS
    fn = _BACKENDS["bge-m3"](1024)
    vecs = fn(["hello world"])
    assert vecs.shape == (1, 1024)


def test_ingest_stream_appends_to_corpus(spark, tmp_path):
    """Streaming ingest must flow new staged files through the same
    parse->embed->chunk lineage and append them to the corpus idempotently."""
    p = VectorPipeline(spark, str(tmp_path / "store_s"), dim=16)
    up = tmp_path / "store_s" / "uploaded" / "tech"
    up.mkdir(parents=True)
    (up / "one.txt").write_text("first streamed document")
    q = p.ingest_stream(max_files_per_trigger=1)
    try:
        q.processAllAvailable()
        assert p.count() == 1
        # a second file arrives -> next micro-batch appends it
        (up / "two.txt").write_text("second streamed document")
        q.processAllAvailable()
        assert p.count() == 2
        cats = {r["lv1_cat"] for r in p.corpus().collect()}
        assert cats == {"tech"}
        assert all(r["embeddings"] is not None for r in p.corpus().collect())
    finally:
        q.stop()


def test_quickstart_example_runs(tmp_path):
    """examples/quickstart.py must execute the full endpoint lifecycle.

    Runs in a SUBPROCESS: the example (correctly, for an example) calls
    ``spark.stop()`` at the end, and get_spark()'s getOrCreate would hand it
    the suite's shared session — an in-process import killed the
    SparkContext for every later test file (the r02 mass-failure cascade:
    78 AttributeError/Py4J failures, all downstream of this one stop)."""
    import subprocess
    import sys
    from pathlib import Path

    example = Path(__file__).resolve().parents[1] / "examples" / "quickstart.py"
    proc = subprocess.run(
        [
            sys.executable,
            "-c",
            "import sys, importlib.util\n"
            "sys.path.insert(0, '/root/repo')\n"
            f"spec = importlib.util.spec_from_file_location('quickstart', {str(example)!r})\n"
            "mod = importlib.util.module_from_spec(spec)\n"
            "spec.loader.exec_module(mod)\n"
            f"mod.main({str(tmp_path)!r})\n",
        ],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, f"quickstart failed:\n{proc.stderr[-4000:]}"


def test_lifecycle_example_runs():
    """examples/lifecycle_maintenance.py must execute one full ingest
    cycle (incremental dedup → manifest consumption → IVM merges →
    compaction apply + compacted probe). Subprocess for the same reason
    as quickstart: the example stops its session at the end."""
    import subprocess
    import sys
    from pathlib import Path

    example = (
        Path(__file__).resolve().parents[1]
        / "examples"
        / "lifecycle_maintenance.py"
    )
    proc = subprocess.run(
        [sys.executable, str(example), "/root/testdata/sf0.001"],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, f"lifecycle example failed:\n{proc.stderr[-4000:]}"
    assert "rectangle probe over compacted table" in proc.stdout


def test_erasure_example_runs():
    """examples/erasure_lifecycle.py must execute one full GDPR cycle
    (rollup retract → affected-only rebuilds → dedup-index erasure →
    BM25 tombstones → IVF reclaim → CDC upsert+delete loop). Subprocess
    because the example stops its session at the end."""
    import subprocess
    import sys
    from pathlib import Path

    example = (
        Path(__file__).resolve().parents[1] / "examples" / "erasure_lifecycle.py"
    )
    proc = subprocess.run(
        [sys.executable, str(example), "/root/testdata/sf0.001"],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, f"erasure example failed:\n{proc.stderr[-4000:]}"
    assert "IVF reclaim" in proc.stdout and "replay-safe" in proc.stdout
