"""Spans around public calls, attributed to Spark work through job groups.

Every span sets the Spark job group of the calling thread to its own id, so
each job, stage and task the call fires can be found again in Spark's event
log. Spans stay in memory and are written out once, when the run ends.

The event log must be uncompressed and non-rolling (Spark 4.1 defaults to
zstd and a rolling directory); :func:`event_log_conf` gives the settings.
"""

from __future__ import annotations

import functools
import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

GROUP_PREFIX = "pipebench-span-"
# Python time of an operator is its "time to run Python workers" (ms). The
# start and initialize timers are left out: on reused workers Spark 4.1
# reports the initialize timer in a unit that exceeds the task's own wall
# time several-fold, so it cannot be read as milliseconds.
PYTHON_TIMER = "time to run Python workers"
PYTHON_NODES = ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas")


def event_log_conf(log_dir: Path) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir.resolve().as_uri(),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class Tracer:
    """In-memory span recorder. With ``enabled=False`` every method is a
    no-op, so the untraced run executes the same benchmark code."""

    def __init__(self, sc, enabled: bool) -> None:
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, op: str | None = None, measured: bool | None = None):
        """A span named after the layer it wraps. ``op`` is the query or
        iteration id shared by all spans of one operation; children inherit
        ``op`` and ``measured`` from their parent."""
        if not self.enabled:
            yield {}
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            "measured": measured if measured is not None else bool(parent and parent["measured"]),
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, rec: dict | None) -> None:
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{rec['id']}", rec["name"])

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Time every call of ``owner.attr`` as a span ``name`` until
        :meth:`unwrap_all`. Used for functions the public call reaches
        internally; a no-op when tracing is off."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def flush(self, path: Path) -> None:
        if self.enabled:
            path.parent.mkdir(parents=True, exist_ok=True)
            with open(path, "w") as fh:
                for rec in self.spans:
                    fh.write(json.dumps(rec) + "\n")


def _walk_plan(node: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (node["nodeName"], m["name"])
    for child in node.get("children", []):
        _walk_plan(child, out)


def _new_agg() -> dict:
    return defaultdict(float)


def read_event_log(path: Path) -> tuple[dict[int, dict], int, int]:
    """Sum Spark work per span id from one uncompressed event log.

    Returns ``(per_span, jobs, untagged_jobs)``. ``per_span[id]`` holds the
    span's own jobs, stages, tasks, task run/CPU/GC seconds, shuffle write,
    spill and output bytes, and per-operator Python seconds and rows keyed
    ``python_s:<node>`` / ``rows:<node>``."""
    per_span: dict[int, dict] = defaultdict(_new_agg)
    accum_node: dict[int, tuple[str, str]] = {}
    stage_span: dict[int, int | None] = {}
    jobs = untagged = 0

    def span_of(props: dict) -> int | None:
        group = (props or {}).get("spark.jobGroup.id") or ""
        return int(group[len(GROUP_PREFIX):]) if group.startswith(GROUP_PREFIX) else None

    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jobs += 1
                sid = span_of(ev.get("Properties"))
                if sid is None:
                    untagged += 1
                else:
                    per_span[sid]["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                sid = span_of(ev.get("Properties"))
                stage_span[ev["Stage Info"]["Stage ID"]] = sid
                if sid is not None:
                    per_span[sid]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                sid = stage_span.get(ev["Stage ID"])
                if sid is None:
                    continue
                agg = per_span[sid]
                m = ev.get("Task Metrics") or {}
                agg["tasks"] += 1
                agg["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                agg["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                agg["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                agg["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                agg["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                agg["bytes_written"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    node, metric = accum_node.get(acc["ID"], (None, None))
                    if node not in PYTHON_NODES:
                        continue
                    if metric == PYTHON_TIMER:
                        agg[f"python_s:{node}"] += float(acc["Update"]) / 1e3
                    elif metric == "number of output rows":
                        agg[f"rows:{node}"] += float(acc["Update"])
            elif "sparkPlanInfo" in ev:
                _walk_plan(ev["sparkPlanInfo"], accum_node)
    return per_span, jobs, untagged


def inclusive(spans: list[dict], per_span: dict[int, dict]) -> dict[int, dict]:
    """Add each span's Spark work to every ancestor, so a span's totals
    cover all calls made inside it."""
    out: dict[int, dict] = defaultdict(_new_agg)
    by_id = {s["id"]: s for s in spans}
    for sid, agg in per_span.items():
        cur = by_id.get(sid)
        while cur is not None:
            for k, v in agg.items():
                out[cur["id"]][k] += v
            cur = by_id.get(cur["parent"]) if cur["parent"] is not None else None
    return out


# per-layer metric -> (span name, field). ``wall_s`` is the span's duration;
# other fields come from values the benchmark stored on the span, else from
# the span's inclusive Spark work. The dedup near-dup kernel's layer name is
# shortened from embedding_neardup_pairs_blas_bucketed to stay within the
# 64-character metric-name limit.
LAYERS: dict[str, tuple[str, str]] = {
    "pipeline.parse.construct_s": ("pipeline.parse", "wall_s"),
    "pipeline.parse.python_s": ("pipeline.save_corpus", "python_s:MapInPandas"),
    "functions.embedding.python_s": ("pipeline.save_corpus", "python_s:ArrowEvalPython"),
    "functions.embedding.rows": ("pipeline.save_corpus", "rows:ArrowEvalPython"),
    "functions.embedding.query_s": ("functions.embedding.query", "wall_s"),
    "pipeline.save_corpus.wall_s": ("pipeline.save_corpus", "wall_s"),
    "pipeline.save_corpus.task_run_s": ("pipeline.save_corpus", "task_run_s"),
    "pipeline.save_corpus.task_cpu_s": ("pipeline.save_corpus", "task_cpu_s"),
    "pipeline.save_corpus.gc_s": ("pipeline.save_corpus", "gc_s"),
    "pipeline.save_corpus.bytes_written": ("pipeline.save_corpus", "bytes_written"),
    "pipeline.save_corpus.files_written": ("pipeline.save_corpus", "files_written"),
    "pipeline.save_corpus.tasks": ("pipeline.save_corpus", "tasks"),
    "operators.bm25.build_index.wall_s": ("operators.bm25.build_index", "wall_s"),
    "operators.bm25.build_index.shuffle_write_bytes": ("operators.bm25.build_index", "shuffle_write_bytes"),
    "operators.bm25.build_index.tasks": ("operators.bm25.build_index", "tasks"),
    "operators.bm25.build_index.cached_bytes": ("operators.bm25.build_index", "cached_bytes"),
    "pipeline.search.construct_s": ("pipeline.search.construct", "wall_s"),
    "pipeline.search.collect_s": ("pipeline.search.collect", "wall_s"),
    "pipeline.search.jobs_per_query": ("pipeline.search", "jobs"),
    "pipeline.search.stages_per_query": ("pipeline.search", "stages"),
    "pipeline.search.tasks_per_query": ("pipeline.search", "tasks"),
    "pipeline.search.task_run_s": ("pipeline.search", "task_run_s"),
    "pipeline.search.gc_s": ("pipeline.search", "gc_s"),
    "operators.bm25.search.construct_s": ("operators.bm25.search", "wall_s"),
    "operators.knn.score_pairs.construct_s": ("operators.knn.score_pairs", "wall_s"),
    "operators.hybrid.fuse_weighted.construct_s": ("operators.hybrid.fuse_weighted", "wall_s"),
    "operators.dedup.minhash_lsh_pairs.wall_s": ("operators.dedup.minhash_lsh_pairs", "wall_s"),
    "operators.dedup.minhash_lsh_pairs.shuffle_write_bytes": ("operators.dedup.minhash_lsh_pairs", "shuffle_write_bytes"),
    "operators.dedup.minhash_lsh_pairs.candidate_pairs": ("operators.dedup.minhash_lsh_pairs", "candidate_pairs"),
    "operators.dedup.minhash_lsh_pairs.true_pair_ratio": ("operators.dedup.minhash_lsh_pairs", "true_pair_ratio"),
    "pipeline.build_training_set.wall_s": ("pipeline.build_training_set", "wall_s"),
    "pipeline.build_training_set.jobs": ("pipeline.build_training_set", "jobs"),
    "pipeline.build_training_set.stages": ("pipeline.build_training_set", "stages"),
    "pipeline.build_training_set.shuffle_write_bytes": ("pipeline.build_training_set", "shuffle_write_bytes"),
    "pipeline.build_training_set.spill_bytes": ("pipeline.build_training_set", "spill_bytes"),
    "pipeline.build_training_set.pinned_bytes": ("pipeline.build_training_set", "pinned_bytes"),
    "operators.dedup.neardup_blas_bucketed.wall_s": ("operators.dedup.neardup_blas_bucketed", "wall_s"),
    "operators.dedup.neardup_blas_bucketed.python_s": ("operators.dedup.neardup_blas_bucketed", "python_s"),
    "operators.dedup.neardup_blas_bucketed.shuffle_write_bytes": ("operators.dedup.neardup_blas_bucketed", "shuffle_write_bytes"),
    "operators.dedup.neardup_blas_bucketed.candidate_pairs": ("operators.dedup.neardup_blas_bucketed", "candidate_pairs"),
    "spark.jobs": ("op", "jobs"),
    "spark.task_run_s": ("op", "task_run_s"),
}


def _field(span: dict, agg: dict, field: str) -> float:
    if field == "wall_s":
        return span["end"] - span["start"]
    if field in span:
        return float(span[field])
    if field == "python_s":
        return sum(v for k, v in agg.items() if k.startswith("python_s:"))
    return float(agg.get(field, 0.0))


def layer_metrics(spans: list[dict], incl: dict[int, dict], op_span: str) -> dict[str, float]:
    """Each per-layer metric as the median, over measured operations, of the
    layer's per-operation total; 0 for a layer no measured operation ran.
    An operation is everything sharing one ``op`` id: one timed-loop
    operation, one set-up pass, or a layer timed on its own after the
    timed window. The span name ``op`` stands for ``op_span``, the root
    span of each timed-loop operation."""
    measured = [s for s in spans if s["measured"] and s["end"] is not None]
    out = {}
    for metric, (name, field) in LAYERS.items():
        per_op: dict[str, float] = defaultdict(float)
        for s in measured:
            if s["name"] == (op_span if name == "op" else name):
                per_op[s["op"]] += _field(s, incl.get(s["id"], {}), field)
        out[metric] = statistics.median(per_op.values()) if per_op else 0.0
    return out
