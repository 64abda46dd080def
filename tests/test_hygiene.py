"""Library hygiene rules that no single operator test sees.

* Pins: a loop operator materializes a new frame every round
  (localCheckpoint) and must release the previous round's frame once the
  new one is materialized, so a call leaves at most the one pin behind
  the frame it returns — not one per round. Counted on
  ``SparkContext.getPersistentRDDs`` rather than ``getRDDStorageInfo``:
  ``session.release_materialized`` unpersists without blocking, so the
  storage info lags the release, while the persistent-RDD map drops the
  entry at once.
* Knobs: no library module reads the process environment. Behaviour is
  chosen by arguments and measurements; only ``session.py`` reads
  deployment settings (cores, driver memory).
"""

import ast
from pathlib import Path

import pytest

from auto_vectordb_spark.operators import cluster as CL
from auto_vectordb_spark.operators import dedup as DD
from auto_vectordb_spark.operators import graph as G
from auto_vectordb_spark.operators import tokenizer as TK


def _lloyd(spark):
    rows = [(i, [float(i % 3), float(i % 5), float(i), 1.0]) for i in range(12)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return CL.lloyd(vecs, k=2, iters=2)[0]


def _pagerank(spark):
    edges = [(i, (i + 1) % 6) for i in range(6)] + [(0, 3), (2, 5)]
    return G.pagerank(spark.createDataFrame(edges, "src long, dst long"), iterations=3)


def _connected_components(spark):
    chain = spark.createDataFrame([(i, i + 1) for i in range(4)], "id_a long, id_b long")
    return DD.connected_components(chain, driver_threshold=0)


def _bpe_train(spark):
    docs = spark.createDataFrame(
        [("lower lowest newer newest wider widest",)] * 3
        + [("slower slowest fewer fewest",)] * 2,
        "text string",
    )
    return TK.bpe_train(docs, num_merges=4, min_freq=1, merge_batch=1)[1]


@pytest.mark.parametrize(
    "call", [_lloyd, _pagerank, _connected_components, _bpe_train], ids=lambda f: f.__name__[1:]
)
def test_loop_operator_leaves_at_most_one_pin(spark, call):
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    out = call(spark)
    grown = jsc.getPersistentRDDs().size() - before
    assert grown <= 1, f"{grown} persistent RDDs left behind"
    assert out.count() > 0


def _env_reads(path: Path) -> list[int]:
    """Line numbers of ``os.environ`` / ``os.getenv`` uses and of
    ``from os import environ/getenv`` in one module."""
    lines = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if (
            isinstance(node, ast.Attribute)
            and node.attr in ("environ", "getenv")
            and isinstance(node.value, ast.Name)
            and node.value.id == "os"
        ) or (
            isinstance(node, ast.ImportFrom)
            and node.module == "os"
            and any(a.name in ("environ", "getenv") for a in node.names)
        ):
            lines.append(node.lineno)
    return lines


def test_library_reads_no_environment_variables():
    import auto_vectordb_spark

    root = Path(auto_vectordb_spark.__file__).parent
    found = {
        f"{p.relative_to(root)}:{line}"
        for p in sorted(root.rglob("*.py"))
        if p.name != "session.py"
        for line in _env_reads(p)
    }
    assert not found, f"environment reads outside session.py: {sorted(found)}"
