"""Pipeline benchmark: one workload, one seed, one result line.

    python3 pipebench/run.py --workload {search,curate} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. The run generates its inputs from the seed,
starts a local Spark session (``local[nproc]``), runs the workload's set-up
pass three times, warms up, repeats the workload's operation for
``--seconds``, then checks the outputs against driver-side oracles.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones (:data:`END_TO_END`). With ``--trace 1`` the run first runs
itself untraced on the same seed, then runs traced with Spark's event log
on, and the metrics are the per-layer ones (tracing.LAYERS). The line before
it holds the workload-specific metrics, the check results and the host
conditions; the same record, and the spans of a traced run, are written
under ``.bench_work/records/``. The exit code is non-zero when a check or
an operation failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
SETUP_PASSES = 3
RSS_INTERVAL_S = 0.5

# end-to-end metric -> unit; every workload reports every one of them.
# Peak memory goes to the detail line only: under the engine's default 8g
# driver heap, the JVM's resident size for the same work varies by up to
# 40% between processes (2.4-3.4 GB on a 4-core host), too much for a
# bounded metric.
END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "stored_bytes_per_input_byte": "ratio",
}


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_ratio"):
        return "ratio"
    return "count"


def tail_latency(lat: list[float]) -> tuple[float | None, float | None]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; (None, None) with fewer than eleven samples."""
    if len(lat) < 11:
        return None, None
    ordered = sorted(lat)
    return ordered[-11], 100.0 * (len(lat) - 10) / len(lat)


def host_conditions() -> dict:
    mem = {}
    with open("/proc/meminfo") as fh:
        for line in fh:
            key, val = line.split(":", 1)
            mem[key] = val.strip()
    with open("/proc/loadavg") as fh:
        load = fh.read().split()[:3]
    return {"loadavg": [float(x) for x in load], "mem_available": mem.get("MemAvailable")}


def _tree_rss_bytes(root_pid: int) -> int:
    """Summed resident memory of ``root_pid`` and all its descendants."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        parent[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier.extend(kids)
    total = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1]) * 1024
        except OSError:
            continue
    return total


class RssSampler:
    """Peak of the summed RSS of this process tree: the Python driver, the
    driver JVM and the Python workers."""

    def __init__(self) -> None:
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
            if self._stop.wait(RSS_INTERVAL_S):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def versions() -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {"spark": pyspark.__version__, "pyarrow": pyarrow.__version__, "numpy": numpy.__version__}


def untraced_p50(args: argparse.Namespace) -> float | None:
    """Median operation latency of an untraced run of the same seed, run
    as a child process before this process starts Spark."""
    cmd = [
        sys.executable, str(BENCH / "run.py"), "--workload", args.workload,
        "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0",
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=170)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        return None
    return json.loads(lines[-1])["metrics"]["latency_p50_s"]["value"]


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway  # noqa: SLF001
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None  # noqa: SLF001
    SparkContext._jvm = None  # noqa: SLF001


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("search", "curate"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [str(BENCH), str(ROOT)]
    # Import the program first: in a directory without it this fails
    # before anything is printed.
    import auto_vectordb_spark  # noqa: F401

    overhead_base = untraced_p50(args) if args.trace else None

    records = ROOT / ".bench_work" / "records"
    work = ROOT / ".bench_work" / f"{args.workload}-{args.seed}"
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "eventlog"):
        (work / d).mkdir(parents=True)
    records.mkdir(parents=True, exist_ok=True)
    # Keep every file Spark, the JVM and Python workers write inside the
    # work directory, and let the workers import the program.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # for every JVM started, the spark-submit launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    try:
        return run(args, work, records / tag, overhead_base)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args: argparse.Namespace, work: Path, record: Path, overhead_base: float | None) -> int:
    import gen
    import tracing
    from auto_vectordb_spark.session import get_spark
    from workloads import WORKLOADS, install_wrappers

    host_before = host_conditions()
    nproc = len(os.sched_getaffinity(0))
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
    }
    if args.trace:
        conf.update(tracing.event_log_conf(work / "eventlog"))

    with RssSampler() as rss:
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"pipebench-{args.workload}", cpus=nproc, extra_conf=conf)
        session_start_s = time.perf_counter() - t0
        tracer = tracing.Tracer(spark.sparkContext, enabled=bool(args.trace))
        try:
            install_wrappers(tracer)
            wl = WORKLOADS[args.workload](spark, tracer, work, args.seed, gen.Sizes())
            t0 = time.perf_counter()
            with tracer.span("prepare", op="prepare"):
                wl.prepare()
            prepare_s = time.perf_counter() - t0
            setup_passes = []
            for k in range(SETUP_PASSES):
                t0 = time.perf_counter()
                with tracer.span("setup", op=f"setup-{k}", measured=True):
                    wl.setup_pass()
                setup_passes.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            wl.warmup()
            warmup_s = time.perf_counter() - t0

            lat: list[float] = []
            failed_ops = 0
            window_start = time.perf_counter()
            i = 0
            while i == 0 or time.perf_counter() - window_start < args.seconds:
                wl.before_op()
                t0 = time.perf_counter()
                try:
                    wl.op(i)
                    lat.append(time.perf_counter() - t0)
                except Exception:  # noqa: BLE001 — a failed operation is counted, not fatal
                    traceback.print_exc()
                    failed_ops += 1
                i += 1
            window_s = time.perf_counter() - window_start

            try:
                checks = wl.checks()
            except Exception as e:  # noqa: BLE001 — a crashed check is a failed check
                traceback.print_exc()
                checks = [("checks", False, f"{type(e).__name__}: {e}")]
            stored_ratio = wl.stored_bytes_per_input_byte()
        finally:
            tracer.unwrap_all()
            stop_spark(spark)

    attempted = i + len(checks) + (1 if args.trace else 0)
    failed = failed_ops + sum(1 for _, ok, _ in checks if not ok)
    p50 = statistics.median(lat) if lat else 0.0
    tail, tail_pct = tail_latency(lat)
    setup_s = statistics.median(setup_passes)
    peak_rss_mb = rss.peak / 2**20

    if args.trace:
        logs = list((work / "eventlog").iterdir())
        per_span, jobs, untagged = tracing.read_event_log(logs[0])
        values = tracing.layer_metrics(
            tracer.spans, tracing.inclusive(tracer.spans, per_span), wl.op_span
        )
        values["spark.untagged_jobs"] = untagged
        if overhead_base:
            values["trace.overhead_ratio"] = p50 / overhead_base
        else:
            failed += 1
            values["trace.overhead_ratio"] = 0.0
        tracer.flush(record.with_name(record.name + "-spans.jsonl"))
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in values.items()}
    else:
        jobs = None
        values = {
            "setup_s": setup_s,
            "latency_p50_s": p50,
            "stored_bytes_per_input_byte": stored_ratio,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}

    named = {
        "search": {"search.latency_p50_s": p50, "search.latency_tail_s": tail,
                   "search.latency_tail_percentile": tail_pct},
        "curate": {"curate.docs_per_s": wl.sizes.pages / p50 if lat else None,
                   "ingest.pages_per_s": wl.sizes.pages / setup_s,
                   "ingest.stored_bytes_per_input_byte": stored_ratio,
                   "curate.planted_dup_recall": wl.recall.get("minhash"),
                   "curate.embedding_dup_recall": wl.recall.get("embedding")},
    }[args.workload]
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "metrics": {
            **named,
            "setup_s": setup_s,
            "peak_rss_mb": peak_rss_mb,
            "error_rate": failed / attempted,
        },
        "samples": len(lat),
        "latencies_s": lat,
        "window_s": window_s,
        "session_start_s": session_start_s,
        "prepare_s": prepare_s,
        "setup_passes_s": setup_passes,
        "warmup_s": warmup_s,
        "spark_jobs_total": jobs,
        "checks": [{"name": n, "ok": ok, "info": info} for n, ok, info in checks],
        "inputs": {k: v for k, v in wl.truth.items() if k != "planted_pairs"},
        "planted_pairs": len(wl.truth.get("planted_pairs", [])),
        **wl.detail(),
        "host": {"nproc": nproc, "before": host_before, "after": host_conditions()},
        "versions": versions(),
    }
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    record.with_name(record.name + ".json").write_text(
        json.dumps({"detail": detail, "result": result}, indent=1)
    )
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
