"""Driver-contract sanity: entry/queries/oracle_sql shape and registry health."""

import duckdb
import pytest

import __spark_entry__ as E
from auto_vectordb_spark.plans.parity import REGISTRY, TABLES


def test_registry_shape():
    qs, osql = E.queries(), E.oracle_sql()
    assert len(qs) >= 30
    assert set(osql) <= set(qs)
    # only genuinely non-oracle-able entries may skip the SQL twin —
    # probabilistic recall, engine-specific sketches, RE2-incompatible
    # regexp replay, trained-model inference. Fixed-iteration deterministic
    # algorithms (pagerank, Lloyd, MMR) are oracle-paired via unrolled CTEs
    # and must NOT appear here.
    ROWS_ONLY_OK = {
        "ann_ivf_topk",  # nprobe bucket pruning; recall-gated (test_ann.py)
        "ann_lsh_topk",  # MLlib random-projection LSH; recall-gated
        "knn_ivf_pq",  # IVFADC; recall-gated (test_cluster.py)
        "dedup_embedding_blas",  # sign-LSH bucketing, measured 0.971 recall
        "approx_distinct_users",  # HLL sketch; error-gated
        "events_wau_hll",  # Datasketches HLL rollup; error-gated
        "bpe_train_merges",  # lookaround regexp replay RE2 can't express;
        # batched-vs-sequential identity gated in test_tokenizer.py
        "quality_classifier_score",  # MLlib L-BFGS training; AUC-gated
        "compression_density_by_source",  # no SQL zlib; bit-exact
        # pure-Python zlib reference gate in test_infodensity.py
        "knn_pq_adc_trained",  # MLlib-KMeans codebooks; recall >= 0.8
        # gated (test_ann.py::test_trained_pq_recall_gate)
        "knn_ivf_pq_trained",  # same trained books + IVF; recall >= 0.75
        "knn_ivf_delete_search",  # IVF tombstones; EXACT equality vs a
        # survivor-rebuilt index gated in test_retraction.py
    }
    assert set(qs) - set(osql) == ROWS_ONLY_OK


def test_oracle_sql_is_valid_duckdb(sf_dir):
    """Every oracle must at least EXPLAIN cleanly against the real views."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    for name, sql in E.oracle_sql().items():
        try:
            con.execute(f"EXPLAIN {sql}")
        except Exception as e:  # noqa: BLE001
            pytest.fail(f"{name}: invalid oracle SQL: {e}")


def test_entry_returns_rows(spark):
    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"query_id", "doc_id", "score"}


def test_docs_cite_survey():
    for name, q in REGISTRY.items():
        assert q.doc, f"{name} has no doc string"


def test_registry_runs_on_bare_driver_session(sf_dir):
    """Round-1 postmortem (VERDICT.md): the driver invokes registry callables
    with a VANILLA SparkSession — no nanosAsLong, no UTC TZ — and every query
    died in load_views before round-2's runtime conf-set. Re-create that exact
    condition in a subprocess (same-JVM sessions would inherit our confs) and
    run one timestamp-formatting, one window, and one retrieval query."""
    import subprocess
    import sys

    script = f"""
import sys; sys.path.insert(0, "/root/repo")
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions", "8").getOrCreate())
import __spark_entry__ as E
qs = E.queries()
for name in ("events_hourly", "window_running_revenue", "hybrid_search"):
    n = qs[name](spark, {sf_dir!r}).count()
    assert n > 0, name
    print("OK", name, n)
spark.stop()
"""
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=600
    )
    assert proc.returncode == 0, f"bare-session run failed:\n{proc.stderr[-4000:]}"
    assert proc.stdout.count("OK") == 3, proc.stdout


def test_no_cartesian_products_anywhere(spark, sf_dir):
    """Every registered query must plan WITHOUT CartesianProduct — cross-join
    shapes are only legal as broadcast nested-loop (small side broadcast);
    a real cartesian at 100 TB is a plan bug."""
    for name, q in REGISTRY.items():
        df = q.spark(spark, sf_dir)
        if df.isStreaming:
            continue
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, f"{name} plans a CartesianProduct"


def test_load_views_cache_interleaved_sf_dirs(spark):
    """The per-session view cache must re-point temp views when the sf_dir
    changes and serve identical DataFrames on repeat calls."""
    from auto_vectordb_spark.plans.parity import load_views

    t1 = load_views(spark, "/root/testdata/sf0.001")
    n_small = spark.sql("SELECT count(*) AS n FROM lineitem").collect()[0]["n"]
    t2 = load_views(spark, "/root/testdata/sf0.01")
    n_big = spark.sql("SELECT count(*) AS n FROM lineitem").collect()[0]["n"]
    assert n_big != n_small  # views re-pointed on sf_dir switch
    t1b = load_views(spark, "/root/testdata/sf0.001")
    assert t1b["documents"] is t1["documents"]  # cache hit returns same plan
    n_small2 = spark.sql("SELECT count(*) AS n FROM lineitem").collect()[0]["n"]
    assert n_small2 == n_small  # and views re-registered from the cache


def test_bench_emits_valid_json(tmp_path):
    """bench.py is the driver's perf surface — if it breaks, the round's
    BENCH metric is lost. Run it at sf0.001 in a subprocess and validate
    the one-line JSON contract."""
    import json
    import os
    import subprocess
    import sys

    env = dict(os.environ, SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
               SPARK_GRAFT_CPUS="8",
               # keep the telemetry sidecar out of the repo root during tests
               SPARK_GRAFT_BENCH_DETAIL=str(tmp_path / "bench_detail.json"))
    proc = subprocess.run(
        [sys.executable, "/root/repo/bench.py"],
        capture_output=True, text=True, timeout=570, env=env,
    )
    assert proc.returncode == 0, f"bench failed:\n{proc.stderr[-4000:]}"
    line = proc.stdout.strip().splitlines()[-1]
    out = json.loads(line)
    assert out["metric"] == "headline_suite_total" and out["unit"] == "sec"
    assert out["value"] > 0 and len(out["queries"]) == 14
    assert all(v >= 0 for v in out["queries"].values())


def test_attest_window_invariants():
    """The driver samples the first 50 queries() entries; the window must
    stay exactly 50 names, all registered, all oracle-paired, and queries()
    must actually lead with it (rotation contract, VERDICT r2 #1)."""
    import __spark_entry__ as E
    from auto_vectordb_spark.plans.parity import _ATTEST_WINDOW, REGISTRY

    assert len(_ATTEST_WINDOW) == 50
    assert len(set(_ATTEST_WINDOW)) == 50
    missing = [n for n in _ATTEST_WINDOW if n not in REGISTRY]
    assert not missing, missing
    no_oracle = [n for n in _ATTEST_WINDOW if REGISTRY[n].sql is None]
    assert not no_oracle, no_oracle
    assert list(E.queries())[:50] == _ATTEST_WINDOW


def test_next_window_fingerprints_cover_registry():
    """tools/next_window.py's staleness guard must see every entry and
    resolve every relative import parity.py uses — module-level aliases AND
    function-local imports — otherwise a changed engine file could silently
    keep a stale attestation green."""
    import sys

    sys.path.insert(0, "/root/repo/tools")
    import next_window as NW

    src = open("/root/repo/auto_vectordb_spark/plans/parity.py").read()
    blocks = NW.entry_blocks(src)
    from auto_vectordb_spark.plans.parity import REGISTRY

    assert set(blocks) == set(REGISTRY)

    imports = NW.import_map(src)
    # every mapped file must exist (a rename in the engine package breaks
    # fingerprinting loudly, not silently)
    import os

    for f, _kind in imports.values():
        assert os.path.exists(f"/root/repo/{f}"), f

    # the once-missed function-local imports resolve (the review gap):
    assert imports["SRC"] == ("auto_vectordb_spark/sources/files.py", "module")
    assert imports["VectorPipeline"] == ("auto_vectordb_spark/pipeline.py", "symbol")
    assert imports["CAT"] == ("auto_vectordb_spark/catalog.py", "module")
    # and the module-level aliases still do
    assert imports["DD"] == ("auto_vectordb_spark/operators/dedup.py", "module")
    assert imports["AN"] == ("auto_vectordb_spark/operators/analytics.py", "module")

    # entry blocks referencing them are detected
    staging = blocks["staging_lifecycle"]
    assert "auto_vectordb_spark/pipeline.py" in NW.referenced_alias_files(staging, imports)
    assert "auto_vectordb_spark/sources/files.py" in NW.referenced_alias_files(staging, imports)

    # the AST parse must be reading decorators (oracle SQL changes count)
    any_block = next(iter(blocks.values()))
    assert "_register" in any_block

    # one-level TRANSITIVE deps are fingerprinted (VERDICT r4 #4): an entry
    # whose block names DD. must go stale when functions/hashing.py changes
    dedup_f = "auto_vectordb_spark/operators/dedup.py"
    deps = NW.module_relative_deps(open(f"/root/repo/{dedup_f}").read(), dedup_f)
    assert "auto_vectordb_spark/functions/hashing.py" in deps
    assert "auto_vectordb_spark/functions/text.py" in deps
    expanded = NW.expand_transitive(
        {dedup_f}, {dedup_f: open(f"/root/repo/{dedup_f}", "rb").read()}
    )
    assert "auto_vectordb_spark/functions/hashing.py" in expanded

    # parity-local helpers/constants ride along with each block: editing
    # load_views or an SQL-fragment constant must stale every referencing
    # entry even though the block text itself is unchanged
    defs = NW.local_defs(src)
    for helper in ("load_views", "_punct_docs", "TOKS_SQL", "_QUALITY_CTE"):
        assert helper in defs, helper
    blk = blocks["term_drift_by_source"]
    aug = NW.augment_block(blk, defs)
    assert defs["load_views"] in aug and defs["TOKS_SQL"] in aug
    defs2 = dict(defs, load_views=defs["load_views"] + " # changed")
    assert NW.augment_block(blk, defs2) != aug


def test_attest_window_matches_generator_artifact():
    """The committed window must be the VERBATIM output of
    tools/next_window.py (round-5 verdict #5: the r5 window was hand-
    curated around the tool's output, which could silently hide a failing
    entry). The tool's raw stdout for this round is committed as
    tools/window_r<N>.out in the same change that sets _ATTEST_WINDOW;
    this test parses the newest artifact and requires exact equality —
    editing the window by hand without regenerating the artifact fails."""
    import glob
    import re

    from auto_vectordb_spark.plans.parity import _ATTEST_WINDOW

    arts = sorted(glob.glob("/root/repo/tools/window_r*.out"))
    assert arts, "no committed window artifact (tools/window_r*.out)"
    out = open(arts[-1]).read()
    m = re.search(r"_ATTEST_WINDOW = \[\n(.*?)\n\]", out, re.DOTALL)
    assert m, "artifact does not contain a window block"
    names = re.findall(r'"([^"]+)"', m.group(1))
    assert _ATTEST_WINDOW == names, (
        "parity._ATTEST_WINDOW differs from the generator artifact "
        f"{arts[-1]} — rerun tools/next_window.py and paste verbatim"
    )


def test_next_window_refuses_uncommitted_ledger():
    """Round-6 verdict #3: tools/next_window.py must ABORT when a
    CORRECTNESS_r*.json exists on disk but has no ADD commit in git —
    otherwise its freshly-attested entries are silently mis-counted as
    stale (r6: 137 reported vs 87 true) and a window rotated over that
    output wastes its slots re-attesting already-green entries."""
    import os
    import sys

    import pytest

    sys.path.insert(0, "/root/repo/tools")
    try:
        import next_window as NW
    finally:
        sys.path.pop(0)

    fake = "/root/repo/CORRECTNESS_r99.json"
    assert not os.path.exists(fake)
    open(fake, "w").write("{}")
    try:
        with pytest.raises(SystemExit, match="uncommitted"):
            NW._graded_commit("CORRECTNESS_r99.json")
    finally:
        os.unlink(fake)
    # committed ledgers still resolve to the graded tree (parent commit)
    assert NW._graded_commit("CORRECTNESS_r01.json").endswith("^")


def test_blast_radius_dependents_track_the_fingerprint():
    """tools/blast_radius.py must see the same dependency edges as the
    staleness gate it fronts (it reuses next_window's own machinery; this
    pins the wiring): a bm25 entry depends on operators/bm25.py, a dedup
    entry on operators/dedup.py AND its one-level functions/hashing.py
    dep, and a pure-TPC-H entry on neither."""
    import sys

    sys.path.insert(0, "/root/repo/tools")
    try:
        import blast_radius as BR
    finally:
        sys.path.pop(0)

    targets = {
        "auto_vectordb_spark/operators/bm25.py",
        "auto_vectordb_spark/operators/dedup.py",
        "auto_vectordb_spark/functions/hashing.py",
    }
    deps = BR.dependents(targets)
    assert "auto_vectordb_spark/operators/bm25.py" in deps["bm25_topk"]
    assert "auto_vectordb_spark/operators/dedup.py" in deps["dedup_exact"]
    # one-level transitive: dedup.py imports functions/hashing.py
    assert "auto_vectordb_spark/functions/hashing.py" in deps["dedup_minhash_signatures"]
    assert "q1_pricing_summary" not in deps
