"""CDC apply loop: a changefeed of upserts AND deletes maintaining a
persisted rollup state table — Structured Streaming composed with the
retraction algebra (operators/retraction.py).

This is the production shape of "keep a derived table current": the
source emits change records ``(op, event...)`` where ``op`` is
``'upsert'`` or ``'delete'`` (a delete carries the row image, the CDC
contract), and each micro-batch is absorbed into the persisted hourly
rollup with one state-sized merge — ``rollup_retract(rollup_merge_r(
state, upserts), deletes)`` — never re-reading raw history. The batch
twin of what Delta CDF + MERGE or a Materialize dataflow does.

Exactly-once under foreachBatch's at-least-once contract via VERSIONED
STATE: batch epoch N writes the whole (state-sized) table to
``state_dir/v{N}`` after reading its input from the newest version
STRICTLY BELOW N. A crash-replayed epoch N therefore recomputes v{N}
from the same pre-N input and overwrites it with identical rows — a true
no-op — even if the crash happened mid-write. Old versions are pruned
to a small keep-window; the newest version is the queryable table
(:func:`read_rollup_state`). State is rollup-sized (hours × types), so
rewriting it whole per batch is cheap at any corpus scale — that is the
entire point of maintaining state instead of recomputing from 100 TB of
history.

Module separate from streaming/pipeline.py by design (staleness blast
radius — pipeline.py backs the attested streaming entries). Reference
scope: composes the reference's idempotent re-index (S11,
backend/process/elasticsearch_index.py:141) and point delete P4
(backend/process/postgres.py:365-400) into one maintained-table loop —
training-data-pipeline extension surface (SURVEY.md step 8).
"""

from __future__ import annotations

import re
import shutil
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.retraction import rollup_merge_r, rollup_retract, rollup_state_r
from ..session import materialize

#: retract-capable rollup state schema (operators/retraction.rollup_state_r)
STATE_SCHEMA = T.StructType(
    [
        T.StructField("window_start", T.StringType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("n_vals", T.LongType()),
        T.StructField("sum_cents", T.LongType()),
    ]
)

_VDIR = re.compile(r"^v(\d{12})$")


def _versions(state_dir: str) -> list[tuple[int, Path]]:
    base = Path(state_dir)
    if not base.is_dir():
        return []
    out = []
    for d in base.iterdir():
        m = _VDIR.match(d.name)
        if m and d.is_dir():
            out.append((int(m.group(1)), d))
    return sorted(out)


def _state_before(spark, state_dir: str, epoch: int) -> DataFrame:
    """Newest persisted state version STRICTLY below ``epoch`` — the
    replay-safe read point (see module docstring); schema-correct empty
    frame when no prior version exists."""
    prior = [p for (v, p) in _versions(state_dir) if v < epoch]
    if not prior:
        return spark.createDataFrame([], STATE_SCHEMA)
    return spark.read.schema(STATE_SCHEMA).parquet(str(prior[-1]))


def apply_cdc_batch(
    spark,
    batch: DataFrame,
    state_dir: str,
    epoch: int,
    op_col: str = "op",
    keep_versions: int = 3,
) -> None:
    """Absorb ONE change batch into the versioned rollup state (the
    foreachBatch body, exposed for batch callers and tests). Rows with
    any other ``op`` value than 'upsert'/'delete' are rejected loudly —
    a malformed changefeed must not silently drop changes.

    ONE pass over the batch (opt guide §2.4, r12 verdict #6): the r12
    shape scanned the batch three times — an op-validation
    distinct().collect(), the upsert-side aggregate inside
    rollup_merge_r, and the delete-side aggregate inside rollup_retract.
    Now a single grouped pass with the op column in the key produces the
    tagged state-sized delta (materialized once — state-sized, the
    artifact this loop persists anyway); op validation reads the delta's
    key column and both partial sides filter it. Int64 partials regroup
    exactly, so the result is bit-identical to
    rollup_retract(rollup_merge_r(prev, ups), dels)."""
    from ..operators.retraction import _rollup_add

    # released once the version write commits: one pin per micro-batch would pile up
    with materialize(rollup_state_r(batch, extra_keys=(op_col,)), "checkpoint") as delta:
        ops = [r[0] for r in delta.select(op_col).distinct().collect()]
        bad = [o for o in ops if o not in ("upsert", "delete")]
        if bad:
            raise ValueError(f"unknown CDC op values: {bad}")
        ups_p = delta.where(F.col(op_col) == "upsert").drop(op_col)
        neg_p = delta.where(F.col(op_col) == "delete").select(
            "window_start",
            "event_type",
            (-F.col("n_events")).alias("n_events"),
            (-F.col("n_vals")).alias("n_vals"),
            (-F.col("sum_cents")).alias("sum_cents"),
        )
        prev = _state_before(spark, state_dir, epoch)
        new = _rollup_add(_rollup_add(prev, ups_p), neg_p).where(F.col("n_events") > 0)
        new.write.mode("overwrite").parquet(f"{state_dir}/v{epoch:012d}")
    # prune old versions, always keeping everything >= the replay horizon
    # (the newest version below the one just written must survive so a
    # replay of THIS epoch still finds its input)
    vs = _versions(state_dir)
    for v, p in vs[:-keep_versions] if len(vs) > keep_versions else []:
        shutil.rmtree(p, ignore_errors=True)


def read_rollup_state(spark, state_dir: str) -> DataFrame:
    """The queryable maintained table: newest persisted version."""
    vs = _versions(state_dir)
    if not vs:
        return spark.createDataFrame([], STATE_SCHEMA)
    return spark.read.schema(STATE_SCHEMA).parquet(str(vs[-1][1]))


def cdc_apply_rollup(
    stream: DataFrame,
    state_dir: str,
    checkpoint: str,
    op_col: str = "op",
):
    """Attach the apply loop to a change stream: each micro-batch (epoch)
    runs :func:`apply_cdc_batch`. With the checkpoint, epochs are
    monotone and replays recompute their version from the same pre-epoch
    input — exactly-once state despite at-least-once batch delivery."""

    def _process(batch: DataFrame, epoch: int) -> None:
        apply_cdc_batch(batch.sparkSession, batch, state_dir, epoch, op_col)

    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .start()
    )


__all__ = [
    "STATE_SCHEMA",
    "apply_cdc_batch",
    "cdc_apply_rollup",
    "read_rollup_state",
    "rollup_state_r",
]
