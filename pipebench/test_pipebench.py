"""Tests of the pipeline benchmark itself. Run from the repository root:

    python3 -m pytest pipebench -q

All but the last test run without Spark; the last one runs the benchmark
once, briefly, on the search workload.
"""

from __future__ import annotations

import hashlib
import json
import re
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path[:0] = [str(BENCH), str(ROOT)]

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")
SMALL = gen.Sizes(pages=40, queries=12, vocab=800, head_ranks=(16, 100), tail_ranks=(300, 800))


def tree_digest(root: Path) -> dict[str, str]:
    return {
        str(p.relative_to(root)): hashlib.sha256(p.read_bytes()).hexdigest()
        for p in sorted(root.rglob("*"))
        if p.is_file()
    }


def test_generator_is_deterministic(tmp_path):
    a = gen.generate(7, tmp_path / "a", SMALL)
    b = gen.generate(7, tmp_path / "b", SMALL)
    gen.generate(8, tmp_path / "c", SMALL)
    assert a == b
    assert tree_digest(tmp_path / "a") == tree_digest(tmp_path / "b")
    assert tree_digest(tmp_path / "a") != tree_digest(tmp_path / "c")
    assert a["pages"] == 40 and a["planted_pairs"]
    pages = sum(p.read_text().count("\f") + 1 for p in (tmp_path / "a" / "uploaded").rglob("*.txt"))
    assert pages == 40


def test_query_kinds_follow_a_fixed_period(tmp_path):
    gen.generate(3, tmp_path, SMALL)
    qs = gen.load_queries(tmp_path)
    assert [q["categories"] is not None for q in qs[:8]] == [False, False, False, True] * 2


def test_metric_names_and_counts():
    e2e = [m["name"] for m in SPEC["end_to_end"]]
    layers = [m["name"] for m in SPEC["per_layer"]]
    names = e2e + layers + [w["name"] for w in SPEC["workloads"]]
    assert all(NAME_RE.fullmatch(n) and len(n) <= 64 for n in names)
    assert len(set(names)) == len(names)
    assert 1 <= len(e2e) <= 16 and 1 <= len(layers) <= 128
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END
    assert all(0 < m["bound"] <= 0.25 for m in SPEC["end_to_end"])
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])
    assert layers == [*tracing.LAYERS, "spark.untagged_jobs", "trace.overhead_ratio"]
    assert all(m["unit"] == run.layer_unit(m["name"]) for m in SPEC["per_layer"])


def test_layer_metrics_cover_every_per_layer_name():
    def span(i, name, parent, op, measured, start, end, **extra):
        return {"id": i, "name": name, "parent": parent, "op": op, "measured": measured,
                "start": start, "end": end, **extra}

    spans = [
        span(0, "prepare", None, "prepare", False, 0.0, 1.0),
        span(1, "setup", None, "setup-0", True, 1.0, 3.0),
        span(2, "pipeline.save_corpus", 1, "setup-0", True, 1.5, 2.5, files_written=4),
        span(3, "curate", None, "curate-0", True, 3.0, 9.0),
        span(4, "pipeline.build_training_set", 3, "curate-0", True, 3.0, 6.0),
    ]
    per_span = {0: {"jobs": 9}, 2: {"jobs": 2, "python_s:MapInPandas": 1.5}, 4: {"jobs": 5}}
    values = tracing.layer_metrics(spans, tracing.inclusive(spans, per_span), "curate")
    assert set(values) == set(tracing.LAYERS)
    assert values["pipeline.save_corpus.wall_s"] == 1.0
    assert values["pipeline.save_corpus.files_written"] == 4
    assert values["pipeline.parse.python_s"] == 1.5
    assert values["pipeline.build_training_set.jobs"] == 5
    assert values["spark.jobs"] == 5  # timed-loop operations only
    assert values["pipeline.search.jobs_per_query"] == 0


def test_event_log_attributes_work_to_spans(tmp_path):
    g = tracing.GROUP_PREFIX
    plan = {"nodeName": "MapInPandas", "children": [],
            "metrics": [{"accumulatorId": 9, "name": "time to run Python workers", "metricType": "timing"}]}
    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart", "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Properties": {"spark.jobGroup.id": f"{g}1"}},
        {"Event": "SparkListenerJobStart", "Properties": {}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 4},
         "Properties": {"spark.jobGroup.id": f"{g}1"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 4,
         "Task Info": {"Accumulables": [{"ID": 9, "Update": "250"}]},
         "Task Metrics": {"Executor Run Time": 1500, "Shuffle Write Metrics": {"Shuffle Bytes Written": 64}}},
    ]
    log = tmp_path / "app"
    log.write_text("".join(json.dumps(e) + "\n" for e in events))
    per_span, jobs, untagged = tracing.read_event_log(log)
    assert (jobs, untagged) == (2, 1)
    assert per_span[1]["tasks"] == 1 and per_span[1]["task_run_s"] == 1.5
    assert per_span[1]["shuffle_write_bytes"] == 64
    assert per_span[1]["python_s:MapInPandas"] == 0.25


def test_tail_latency_needs_ten_samples_beyond():
    assert run.tail_latency([1.0] * 10) == (None, None)
    value, pct = run.tail_latency([float(i) for i in range(20)])
    assert value == 9.0 and pct == 50.0


@pytest.fixture
def tiny_oracle():
    texts = ["alpha beta gamma", "alpha alpha delta", "beta epsilon zeta", "gamma gamma gamma eta"]
    emb = oracle.hash_projection_embedder(16)(texts)
    return oracle.SearchOracle(["d0", "d1", "d2", "d3"], texts, ["a", "a", "b", "b"], emb)


def test_search_oracle_ranks_by_fused_score_then_id(tiny_oracle):
    hits = tiny_oracle.search("alpha gamma", size=3)
    fused = tiny_oracle.fused("alpha gamma", size=3)
    assert [d for d, _ in hits] == sorted(fused, key=lambda d: (-fused[d], d))[:3]
    assert oracle.compare_hits(hits, hits, fused) is None
    scoped = tiny_oracle.search("alpha gamma", size=3, categories=["b"])
    assert {d for d, _ in scoped} <= {"d2", "d3"}


def test_corrupted_search_result_fails_the_check(tiny_oracle):
    want = tiny_oracle.search("alpha gamma", size=3)
    fused = tiny_oracle.fused("alpha gamma", size=3)
    outsider = next(d for d in fused if d not in {h for h, _ in want})
    swapped = [*want[:-1], (outsider, want[-1][1])]
    nudged = [(d, s + 1e-6) for d, s in want]
    assert oracle.compare_hits(swapped, want, fused) is not None
    assert oracle.compare_hits(nudged, want, fused) is not None
    assert oracle.compare_hits(want[:-1], want, fused) is not None


def test_corrupted_embedding_fails_the_check():
    texts = ["one two three", "four five"]
    good = [list(v) for v in oracle.hash_projection_embedder(32)(texts)]
    assert oracle.embedding_mismatches(texts, good, 32) == []
    bad = [good[0], list(np.asarray(good[1]) * 1.001)]
    assert oracle.embedding_mismatches(texts, bad, 32) == [1]
    assert oracle.embedding_mismatches(texts, [good[0], good[1][:-1]], 32) == [1]


def test_run_prints_every_end_to_end_metric():
    proc = subprocess.run(
        [sys.executable, "pipebench/run.py", "--workload", "search", "--seed", "5",
         "--seconds", "1", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == run.END_TO_END
    assert all(v["value"] > 0 for v in result["metrics"].values())
