"""Library hygiene rules that no single operator test sees.

* Pins: ``session.materialize`` is the only way library code pins a
  working set, and whoever holds the handle releases it. A public
  operator call leaves at most the one pin behind the lazy frame it
  returns, and none when every reader of the pin runs inside the call
  (writes, collects). Loop operators release the previous round's pin
  once the new one is materialized, so rounds never pile up. Counted on
  ``SparkContext.getPersistentRDDs`` rather than ``getRDDStorageInfo``:
  a handle's ``release`` unpersists without blocking, so the storage
  info lags the release, while the persistent-RDD map drops the entry
  at once.
* Knobs: no library module reads the process environment. Behaviour is
  chosen by arguments and measurements; only ``session.py`` reads
  deployment settings (cores, driver memory).

Inputs are small Arrow-built frames (a LocalTableScan): a list-of-tuples
frame would re-scan a Python RDD on every job.
"""

import ast
from datetime import datetime, timedelta, timezone
from pathlib import Path

import pyarrow as pa
import pytest

from auto_vectordb_spark.operators import cluster as CL
from auto_vectordb_spark.operators import dedup as DD
from auto_vectordb_spark.operators import graph as G
from auto_vectordb_spark.operators import layout_maint as LM
from auto_vectordb_spark.operators import pq as PQ
from auto_vectordb_spark.operators import snapshots as SN
from auto_vectordb_spark.operators import tokenizer as TK
from auto_vectordb_spark.pipeline import VectorPipeline, build_training_set
from auto_vectordb_spark.streaming import cdc

DOCS = [
    "the quick brown fox jumps over the lazy dog near the river bank",
    "the quick brown fox jumps over the lazy dog near the river bank",
    "the quick brown fox jumps over the lazy dog near the river bend",
    "spark shuffles stages and the scheduler runs every task twice",
    "catalyst rewrites logical plans before the planner picks joins",
    "bread needs flour water salt and a slow overnight rise",
]
T0 = datetime(2024, 1, 1, tzinfo=timezone.utc)


def _docs(spark):
    return spark.createDataFrame(
        pa.table({"doc_id": pa.array(range(1, len(DOCS) + 1), pa.int64()), "text": DOCS})
    )


def _vectors(spark, n=12):
    return spark.createDataFrame(
        pa.table(
            {
                "vec_id": pa.array(range(n), pa.int64()),
                "embedding": [[float(i % 3), float(i % 5), float(i), 1.0] for i in range(n)],
            }
        )
    )


def _events(spark, n=40):
    return spark.createDataFrame(
        pa.table(
            {
                "event_id": pa.array(range(n), pa.int64()),
                "user_id": pa.array([i % 7 for i in range(n)], pa.int64()),
                "ts": pa.array(
                    [T0 + timedelta(minutes=37 * i) for i in range(n)], pa.timestamp("us", "UTC")
                ),
                "event_type": [("view", "purchase")[i % 2] for i in range(n)],
                "value": [float(i) for i in range(n)],
            }
        )
    )


def _edges(spark, pairs, a="src", b="dst"):
    src, dst = zip(*pairs)
    return spark.createDataFrame(
        pa.table({a: pa.array(src, pa.int64()), b: pa.array(dst, pa.int64())})
    )


# Each case prepares its inputs outside the counted window and returns the
# call to count: a frame (consumed before counting) or None.


def _lloyd(spark, tmp):
    vecs = _vectors(spark)
    return lambda: CL.lloyd(vecs, k=2, iters=2)[0]


def _pagerank(spark, tmp):
    edges = _edges(spark, [(i, (i + 1) % 6) for i in range(6)] + [(0, 3), (2, 5)])
    return lambda: G.pagerank(edges, iterations=3)


def _pagerank_no_iterations(spark, tmp):
    # the returned seed ranks still read the checkpointed node table
    edges = _edges(spark, [(0, 1), (1, 2), (2, 0)])
    return lambda: G.pagerank(edges, iterations=0)


def _connected_components(spark, tmp):
    chain = _edges(spark, [(i, i + 1) for i in range(4)], "id_a", "id_b")
    return lambda: DD.connected_components(chain, driver_threshold=0)


def _bpe_train(spark, tmp):
    docs = spark.createDataFrame(
        pa.table(
            {
                "text": ["lower lowest newer newest wider widest"] * 3
                + ["slower slowest fewer fewest"] * 2
            }
        )
    )
    return lambda: TK.bpe_train(docs, num_merges=4, min_freq=1, merge_batch=1)[1]


def _apply_cdc_batch(spark, tmp):
    ev = _events(spark)
    batch = ev.selectExpr("*", "IF(event_id % 5 = 0, 'delete', 'upsert') AS op")

    def run():
        for epoch in (1, 2):
            cdc.apply_cdc_batch(spark, batch, str(tmp / "state"), epoch)

    return run


def _zorder_compaction_cycle2(spark, tmp):
    main, side = str(tmp / "main"), str(tmp / "side")
    LM.zorder_compaction_apply(spark, _events(spark), main, side, bucket_bits=2)
    return lambda: LM.zorder_compaction_cycle2(spark, main, side, rewrite_pct=5, bucket_bits=2)


def _zorder_compaction_apply(spark, tmp):
    ev = _events(spark)
    return lambda: LM.zorder_compaction_apply(
        spark, ev, str(tmp / "main"), str(tmp / "side"), bucket_bits=2
    )


def _zorder_write_ranged(spark, tmp):
    ev = _events(spark)
    return lambda: LM.zorder_write_ranged(ev, str(tmp / "ranged"), n_files=4)


def _build_training_set(spark, tmp):
    docs = _docs(spark)
    return lambda: build_training_set(docs, quality_min=0.0)


def _minhash_lsh_pairs_incremental(spark, tmp):
    docs = _docs(spark)
    table = DD.minhash_bucket_table(docs.where("doc_id <= 3"))
    return lambda: DD.minhash_lsh_pairs_incremental(docs.where("doc_id > 1"), table)


def _split_leakage_groupaware(spark, tmp):
    docs = _docs(spark)
    return lambda: SN.split_leakage_groupaware(docs)


def _curriculum_pack_manifest(spark, tmp):
    docs = _docs(spark)
    return lambda: SN.curriculum_pack_manifest(docs, quality_min=0.0)


def _pq_codebooks_kmeans(spark, tmp):
    vecs = _vectors(spark)

    def run():
        assert len(PQ.pq_codebooks_kmeans(vecs, m=2, ksub=2)) == 2

    return run


def _pipeline_build_index_then_delete(spark, tmp):
    src = tmp / "src"
    src.mkdir()
    (src / "a.txt").write_text("alpha beta\falpha gamma")
    p = VectorPipeline(spark, str(tmp / "store"), dim=8)
    p.save_corpus(p.embed(p.parse(str(src))), mode="overwrite")
    victim = p.corpus().orderBy("id").first()["id"]

    def run():
        p.build_index()
        idx = p._bm25
        for pinned in (p._search_side, idx.postings, idx.doc_lens, idx.term_df, idx.stats):
            assert pinned.count() > 0
        # search pins nothing: its scoring job and its fetch read the pins
        for mode in ("hybrid", "bm25", "knn", "rerank"):
            assert p.search("alpha gamma", size=2, mode=mode).collect(), mode
        p.delete_by_ids([victim])

    return run


LEAK_CASES = [
    (_lloyd, 0),
    (_pagerank, 1),
    (_pagerank_no_iterations, 1),
    (_connected_components, 1),
    (_bpe_train, 1),
    (_apply_cdc_batch, 0),
    (_zorder_compaction_cycle2, 1),
    (_zorder_compaction_apply, 1),
    (_zorder_write_ranged, 0),
    (_build_training_set, 1),
    (_minhash_lsh_pairs_incremental, 1),
    (_split_leakage_groupaware, 1),
    (_curriculum_pack_manifest, 1),
    (_pq_codebooks_kmeans, 0),
    (_pipeline_build_index_then_delete, 0),
]


@pytest.mark.parametrize(
    "setup,limit", [pytest.param(f, n, id=f.__name__[1:]) for f, n in LEAK_CASES]
)
def test_loop_operator_leaves_at_most_one_pin(spark, tmp_path, setup, limit):
    call = setup(spark, tmp_path)
    rdds = spark.sparkContext._jsc.getPersistentRDDs
    # new ids, not a size delta: the ContextCleaner may free earlier
    # garbage meanwhile
    before = set(rdds().keySet())
    out = call()
    if out is not None:
        assert out.count() > 0
    left = set(rdds().keySet()) - before
    assert len(left) <= limit, f"{len(left)} persistent RDDs left behind (allowed {limit})"


def _env_reads(tree: ast.AST) -> list[int]:
    """Line numbers of ``os.environ`` / ``os.getenv`` uses and of
    ``from os import environ/getenv``."""
    names = ("environ", "getenv")
    return [
        node.lineno
        for node in ast.walk(tree)
        if (
            isinstance(node, ast.Attribute)
            and node.attr in names
            and isinstance(node.value, ast.Name)
            and node.value.id == "os"
        )
        or (
            isinstance(node, ast.ImportFrom)
            and node.module == "os"
            and any(a.name in names for a in node.names)
        )
    ]


def _pin_calls(tree: ast.AST) -> list[int]:
    """Line numbers of ``.persist(`` / ``.cache(`` / ``.localCheckpoint(`` /
    ``.unpersist(`` calls."""
    names = ("persist", "cache", "localCheckpoint", "unpersist")
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in names
    ]


def _library_hits(find) -> list[str]:
    """``path:line`` of every ``find`` hit in the library outside
    ``session.py``, the one module that may read deployment settings and
    pin working sets."""
    import auto_vectordb_spark

    root = Path(auto_vectordb_spark.__file__).parent
    return sorted(
        f"{p.relative_to(root)}:{line}"
        for p in sorted(root.rglob("*.py"))
        if p.relative_to(root) != Path("session.py")
        for line in find(ast.parse(p.read_text(), str(p)))
    )


def test_library_reads_no_environment_variables():
    found = _library_hits(_env_reads)
    assert not found, f"environment reads outside session.py: {found}"


def test_library_pins_only_through_session_materialize():
    found = _library_hits(_pin_calls)
    assert not found, f"pins outside session.materialize: {found}"
