"""Physical-layout MAINTENANCE: executing the z-order decisions layout.py
plans — incremental compaction APPLY and the range-chunked production
write shape.

layout.py ends at decisions: ``zorder_compaction_plan`` says which buckets
to rewrite, ``zorder_write`` materializes the teaching-shape layout (one
file per hash bucket). This module closes the decide→act gap the r10
round's ``zorder_write_probe`` closed for predict→scan:

* :func:`zorder_compaction_apply` EXECUTES a compaction plan against a
  materialized z-order table — rewrite-marked buckets are merged with
  their deltas and rewritten in place (dynamic partition overwrite),
  defer-marked deltas land in a small side table — and
  :func:`compaction_report` attests the post-compaction STORED state
  (the analogue of Delta's incremental ``OPTIMIZE`` execute step /
  Iceberg's rewrite-data-files action; same idempotent re-index posture
  as the reference's ES rebuild, reference
  backend/process/elasticsearch_index.py:141).
* :func:`zorder_write_ranged` is the 100 TB write shape
  ``zorder_write``'s own docstring defers to: contiguous z-RANGE chunks
  (exact ntile over the distributed rank — deterministic where
  ``repartitionByRange``'s sampled boundaries are not, so the layout is
  cross-engine attestable), rows sorted by z within each file, and
  :func:`zorder_probe_ranged` prunes on per-file column BOUNDS (footer
  statistics — the metadata a lakehouse manifest serves), not partition
  directories.

Separate module by design: layout.py's analysis entries keep their
attestations when maintenance evolves (tools/next_window.py fingerprints
at file granularity — module boundaries ARE the staleness blast radius).

Scale shapes (details per docstring): the apply step shuffles ONLY the
rewritten buckets plus the delta batch — deferred buckets' files are not
read, not rewritten, not even listed; the ranged write is one range-key
shuffle (global_rank) + one 16-value hash shuffle; the ranged probe's
pruning decision is pure metadata (driver-side interval intersection
against per-file bounds) before any row is read.

Corpus pin: :func:`zorder_compaction_apply` and :func:`zorder_write_ranged`
pin their cleaned narrow events frame with ``session.materialize(...,
"disk")`` (``persist(DISK_ONLY)`` + ``count()``) and release the handle
once every consumer has executed. At 20M
rows (200x the bench SF) the postures measured: localCheckpoint 18.1 s,
DISK_ONLY 18.3 s, no pin (every consumer re-derives from the scan) 20.1 s,
MEMORY_AND_DISK 21.9 s (eviction churn) — OPTIMIZATION_r13.md. DISK_ONLY
is within 1% of the checkpoint and KEEPS LINEAGE, so a lost executor
recomputes its blocks instead of killing the job (the r12 verdict's
100 TB objection to a corpus-sized localCheckpoint). Safe because these
frames read only immutable inputs; the self-overwrite-hazard frame in
:func:`zorder_compaction_apply` stays a localCheckpoint precisely because
its recompute would read overwritten files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import materialize
from .layout import (
    GRID_BITS,
    PROBE_X,
    PROBE_Y,
    _hour_index,
    _py_spread8,
    grid_expr_sql,
    morton16,
)
from .schedule import global_rank, ntile_expr

_MAIN_SCHEMA = "{pay} long, xg long, yg long, z_bucket long"


def _clean(events: DataFrame, id_col: str, x_col: str, ts_col: str) -> DataFrame:
    """NULL key/timestamp/id rows carry no layout position and fail the
    row (cleanvec doctrine), exactly as every layout.py entry."""
    return events.where(
        F.col(x_col).isNotNull()
        & F.col(ts_col).isNotNull()
        & F.col(id_col).isNotNull()
    )


def zorder_compaction_apply(
    spark,
    events: DataFrame,
    main_path: str,
    side_path: str,
    id_col: str = "event_id",
    x_col: str = "user_id",
    ts_col: str = "ts",
    bucket_bits: int = 6,
    delta_mod: int = 10,
    rewrite_pct: int = 10,
) -> DataFrame:
    """Execute the incremental z-order maintenance cycle end-to-end and
    return the plan that was applied: write the BASE layout (the
    :func:`layout.zorder_write` shape — one file per hash bucket — of the
    non-delta rows), decide per bucket (byte-identical arithmetic to
    :func:`layout.zorder_compaction_plan`, computed inline from the one
    materialized pass — rewrite when delta pressure exceeds
    ``rewrite_pct``% of base rows or the bucket is all-new, else defer),
    then ACT on the decision:

    - **rewrite** buckets: the bucket's stored main-table rows are read
      back, merged with the bucket's delta rows (mapped onto the FROZEN
      base grid, clamped — identical arithmetic to the plan, so a row
      can never be planned into one bucket and applied into another),
      and the bucket's partition is atomically replaced via dynamic
      partition overwrite — one new file per rewritten bucket;
    - **defer** buckets: the delta rows land in a small SIDE table
      partitioned the same way (the delta "rides in a side file until
      pressure accumulates", as the plan's contract says); the bucket's
      main file is not read, not rewritten, not listed.

    The merged rewrite set is eagerly ``localCheckpoint``ed before the
    overwrite: the write targets the same path the merge reads, and the
    checkpoint (a) materializes the read before the first file is
    replaced — the self-overwrite hazard — and (b) is exactly the
    read-then-write a compactor pays anyway: rewrite cost is
    proportional to the REWRITTEN buckets plus the delta batch, never
    the table (at 100 TB a table format would commit the same new files
    via a metadata swap instead of directory overwrite; the shuffle and
    I/O shape is identical).

    The base/delta split is the plan's deterministic stand-in
    (``id % delta_mod == 0`` = the delta batch); production callers
    pre-tag arrivals. Empty base ⇒ empty plan ⇒ nothing applied (an
    initial write, not a compaction) — mirrored from the plan's
    contract.
    """
    from concurrent.futures import ThreadPoolExecutor

    from .dedup import fan_out_small_scan

    # ONE corpus pass (r12 opt, guide §2.4): the r11 shape scanned the
    # events parquet SIX times (zorder_write's stats agg + write pass,
    # the plan's stats agg + bucket agg, the apply's own base_stats agg,
    # and the delta projection) — and at sf0.1 every one of those is a
    # single-task scan (one parquet row group cannot split), so the
    # hour-index/grid arithmetic serialized on one core per pass. The
    # cleaned narrow frame (id + 2 longs + the delta flag) is fanned to
    # the session's parallelism (conditional — a no-op on a
    # well-partitioned 100 TB scan) and materialized ONCE; stats, plan,
    # base write, delta mapping and side write all derive from it.
    ev_pin = materialize(  # the corpus pin (module docstring)
        fan_out_small_scan(_clean(events, id_col, x_col, ts_col)).select(
            F.col(id_col),
            F.col(x_col).cast("long").alias("__x"),
            _hour_index(ts_col).alias("__y"),
            (F.pmod(F.col(id_col), F.lit(delta_mod)) == 0).alias("__is_delta"),
        ),
        "disk",
    )
    ev = ev_pin.df
    # ONE min-max aggregate serves zorder_write's grid, the plan's grid
    # and the delta mapping (the r11 shape computed it three times —
    # identical input set, identical values). Collected as int literals:
    # the grid arithmetic stays whole-stage-codegen'd with no broadcast
    # join node, and the values are exact int64 either way.
    row = ev.where(~F.col("__is_delta")).agg(
        F.min("__x").alias("__xmin"),
        F.max("__x").alias("__xmax"),
        F.min("__y").alias("__ymin"),
        F.max("__y").alias("__ymax"),
    ).first()
    shift = 2 * GRID_BITS - bucket_bits
    if row is None or row["__xmin"] is None:
        # Empty base ⇒ empty plan ⇒ nothing applied (an initial write,
        # not a compaction) — identical to the broadcast-join shape,
        # where the __xmin-isNotNull filter killed every row. The empty
        # writes still run so main/side exist for the report read.
        gz = ev.select(
            id_col,
            F.lit(None).cast("long").alias("xg"),
            F.lit(None).cast("long").alias("yg"),
            F.lit(None).cast("long").alias("z_bucket"),
            "__is_delta",
        ).where(F.lit(False))
    else:
        xmin, xmax = int(row["__xmin"]), int(row["__xmax"])
        ymin, ymax = int(row["__ymin"]), int(row["__ymax"])
        # Frozen-grid mapping, clamped into the base range — byte-identical
        # arithmetic to zorder_compaction_plan (layout.py documents the
        # input-clamp overflow guard). Base rows are inside [vmin, vmax] by
        # construction, so the clamp is the identity for them and this one
        # expression serves both the base layout write and the delta
        # mapping.
        xg = F.expr(
            grid_expr_sql(f"least(greatest(__x, {xmin}), {xmax})", str(xmin), str(xmax))
        )
        yg = F.expr(
            grid_expr_sql(f"least(greatest(__y, {ymin}), {ymax})", str(ymin), str(ymax))
        )
        gz = ev.select(
            id_col,
            xg.alias("xg"),
            yg.alias("yg"),
            F.shiftright(morton16(xg, yg), shift).cast("long").alias("z_bucket"),
            "__is_delta",
        )

    # Exchange widths pinned to the bucket count — see layout.zorder_write:
    # an AQE-coalesced single task would write every bucket dir serially.
    def _write_base() -> None:
        gz.where(~F.col("__is_delta")).select(
            id_col, "xg", "yg", "z_bucket"
        ).repartition(2 ** bucket_bits, "z_bucket").write.mode(
            "overwrite"
        ).partitionBy("z_bucket").parquet(main_path)

    # The base-layout write and the plan aggregate are independent reads
    # of the checkpointed frame — overlap them so the plan's tiny agg
    # back-fills executors idled by the write's commit tail (guide §2.6).
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_base = pool.submit(_write_base)
        plan = materialize(  # one decide pass; three consumers
            gz.groupBy("z_bucket")
            .agg(
                F.count(F.when(~F.col("__is_delta"), 1)).alias("base_rows"),
                F.count(F.when(F.col("__is_delta"), 1)).alias("delta_rows"),
            )
            .select(
                "z_bucket",
                "base_rows",
                "delta_rows",
                F.when(
                    (F.col("base_rows") == 0)
                    | (
                        F.col("delta_rows") * 100
                        >= F.col("base_rows") * rewrite_pct
                    ),
                    F.lit("rewrite"),
                )
                .otherwise(F.lit("defer"))
                .alias("action"),
            ),
            "checkpoint",
        ).df
        rewrite_buckets = F.broadcast(
            plan.where(F.col("action") == "rewrite").select("z_bucket")
        )
        defer_buckets = F.broadcast(
            plan.where(F.col("action") == "defer").select("z_bucket")
        )
        dz = gz.where(F.col("__is_delta")).select(id_col, "xg", "yg", "z_bucket")

        # The side write depends only on the plan + the checkpointed frame
        # and touches its own path — launch it now, overlapping the rest
        # of the main-path work (guide §2.6).
        def _write_side() -> None:
            dz.join(defer_buckets, "z_bucket", "left_semi").select(
                id_col, "xg", "yg", "z_bucket"
            ).repartition(2 ** bucket_bits, "z_bucket").write.mode(
                "overwrite"
            ).partitionBy("z_bucket").parquet(side_path)

        f_side = pool.submit(_write_side)
        f_base.result()  # stored read-back needs the base layout on disk

        schema = _MAIN_SCHEMA.format(pay=id_col)
        stored = spark.read.schema(schema).parquet(main_path)
        with materialize(
            stored.join(rewrite_buckets, "z_bucket", "left_semi").unionByName(
                dz.join(rewrite_buckets, "z_bucket", "left_semi").select(
                    "z_bucket", id_col, "xg", "yg"
                )
            ),
            "checkpoint",
        ) as merged:
            # dynamic overwrite scoped to THIS write via the writer option
            # (r11 ADVICE #1): mutating the session conf, even set/restore
            # in finally, races concurrent writers on a shared SparkSession.
            merged.select(id_col, "xg", "yg", "z_bucket").repartition(
                2 ** bucket_bits, "z_bucket"
            ).write.mode("overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).partitionBy("z_bucket").parquet(main_path)
        f_side.result()
    # every consumer of the corpus pin has executed (writes committed, plan
    # checkpointed): corpus-sized storage must not outlive the operator
    # call (r12 verdict #2 caveat)
    ev_pin.release()
    return plan


def compaction_report(
    spark,
    main_path: str,
    side_path: str,
    plan: DataFrame,
    id_col: str = "event_id",
) -> DataFrame:
    """Post-compaction attestation relation, computed from the STORED
    tables (never from the source events — the whole point is that the
    storage now IS the truth): per bucket, the applied action, rows in
    the main table, rows riding in the side table, and the exact int64
    payload sum across both (the roundtrip-integrity witness: main ∪
    side must carry every surviving row exactly once).

    Expected invariants, oracle-attested: ``main_rows = base_rows +
    delta_rows`` for rewritten buckets (the merge absorbed the delta),
    ``main_rows = base_rows`` and ``side_rows = delta_rows`` for
    deferred ones (the main file untouched). Two short scans reduced by
    a ≤2^bucket_bits-key groupBy + a broadcast join of the plan — the
    report never shuffles row data. Reads supply explicit schemas so an
    empty table (or a side table no defer bucket ever wrote) scans as
    the schema-correct empty frame.
    """
    schema = _MAIN_SCHEMA.format(pay=id_col)

    def per_bucket(path: str, n_col: str, s_col: str) -> DataFrame:
        return (
            spark.read.schema(schema)
            .parquet(path)
            .groupBy("z_bucket")
            .agg(
                F.count("*").alias(n_col),
                F.sum(id_col).alias(s_col),
            )
        )

    main = per_bucket(main_path, "main_rows", "__sm")
    side = per_bucket(side_path, "side_rows", "__ss")
    return (
        main.join(side, "z_bucket", "left_outer")
        .join(F.broadcast(plan.select("z_bucket", "action")), "z_bucket")
        .select(
            "z_bucket",
            "action",
            "main_rows",
            F.coalesce("side_rows", F.lit(0)).cast("long").alias("side_rows"),
            (F.col("__sm") + F.coalesce("__ss", F.lit(0)))
            .cast("long")
            .alias("sum_payload"),
        )
    )


def zorder_compaction_cycle2(
    spark,
    main_path: str,
    side_path: str,
    rewrite_pct: int = 10,
    id_col: str = "event_id",
    bucket_bits: int = 6,
) -> DataFrame:
    """The NEXT maintenance cycle — what makes deferral honest: a
    deferred delta is not dropped work, it is pressure ACCUMULATING in
    the side table until this cycle absorbs it. Decide from STORED
    bucket-level counts only (two tiny aggregates — no grid arithmetic,
    no row data moved for the decision): a bucket whose side rows exceed
    ``rewrite_pct``% of its main rows (or with no main rows) is
    rewritten — its main partition replaced by main ∪ side via dynamic
    partition overwrite — and its rows REMOVED from the side table; the
    rest keep riding. Returns the post-cycle report in the
    :func:`compaction_report` shape, with ``action`` = this cycle's
    decision (``noop`` for buckets with no deferred rows).

    Same cost contract as cycle 1: I/O proportional to the rewritten
    buckets plus the side table, never the main table. Chaining this
    entry after :func:`zorder_compaction_apply` attests the full
    defer→accumulate→rewrite loop: cycle 1 proves deferral loses
    nothing, cycle 2 proves deferred data eventually lands in the main
    layout — content equality with a from-scratch rewrite is test-pinned
    at both points.

    .. note:: ``bucket_bits`` here is used ONLY to pin the write-exchange
       width (``2**bucket_bits`` — one task per possible bucket) and must
       match the ``bucket_bits`` the apply step laid the table out with; a
       mismatch is perf-only (partitionBy still yields one file per actual
       bucket), but an under-sized width serializes the rewrite and an
       over-sized one schedules empty tasks (r12 ADVICE).
    """
    schema = _MAIN_SCHEMA.format(pay=id_col)
    main = spark.read.schema(schema).parquet(main_path)
    side = spark.read.schema(schema).parquet(side_path)
    m_cnt = main.groupBy("z_bucket").agg(F.count("*").alias("__m"))
    s_cnt = side.groupBy("z_bucket").agg(F.count("*").alias("__s"))
    plan2 = materialize(  # one decide pass, three consumers; the returned report reads it
        m_cnt.join(s_cnt, "z_bucket", "full_outer")
        .select(
            "z_bucket",
            F.coalesce("__m", F.lit(0)).cast("long").alias("__m"),
            F.coalesce("__s", F.lit(0)).cast("long").alias("__s"),
        )
        .select(
            "z_bucket",
            "__m",
            "__s",
            F.when(F.col("__s") == 0, F.lit("noop"))
            .when(
                (F.col("__m") == 0)
                | (F.col("__s") * 100 >= F.col("__m") * rewrite_pct),
                F.lit("rewrite"),
            )
            .otherwise(F.lit("defer"))
            .alias("action"),
        ),
        "checkpoint",
    ).df
    rewrite2 = F.broadcast(
        plan2.where(F.col("action") == "rewrite").select("z_bucket")
    )
    # both rewrite sets are checkpointed before either write replaces their files
    with (
        materialize(
            main.join(rewrite2, "z_bucket", "left_semi").unionByName(
                side.join(rewrite2, "z_bucket", "left_semi")
            ),
            "checkpoint",
        ) as merged,
        materialize(side.join(rewrite2, "z_bucket", "left_anti"), "checkpoint") as remaining,
    ):
        # writer-scoped dynamic overwrite (r11 ADVICE #1) — see the apply step;
        # exchange width pinned to the bucket count (see layout.zorder_write)
        merged.select(id_col, "xg", "yg", "z_bucket").repartition(
            2 ** bucket_bits, "z_bucket"
        ).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("z_bucket").parquet(main_path)
        remaining.select(id_col, "xg", "yg", "z_bucket").repartition(
            2 ** bucket_bits, "z_bucket"
        ).write.mode("overwrite").partitionBy("z_bucket").parquet(side_path)
    return compaction_report(
        spark, main_path, side_path, plan2, id_col=id_col
    )


def zorder_compacted_probe(
    spark,
    main_path: str,
    side_path: str,
    x_range: tuple[int, int] = PROBE_X,
    y_range: tuple[int, int] = PROBE_Y,
    bucket_bits: int = 6,
    id_col: str = "event_id",
) -> DataFrame:
    """Rectangle probe against a COMPACTED table — the read path a
    deferred-delta layout actually serves: the pruned main scan (candidate
    z-buckets only, partition-directory pruning at planning time, exactly
    :func:`layout.zorder_probe_scan`'s shape) UNIONED with the pruned
    side-table scan (the deferred deltas, same bucket arithmetic, tiny).
    This attests that deferring a bucket's delta never loses it from a
    query: n_rows / sum_payload over the rectangle must equal the
    pre-compaction answer, while the scan still opens only
    candidate-bucket files in BOTH tables.

    ``files_scanned`` counts candidate-bucket files opened across main +
    side (each bucket is one file per table by construction);
    ``files_total`` counts both tables' files — metadata listings via the
    Hadoop FileSystem API, never a data scan. Explicit schemas keep empty
    tables (or a side table no defer bucket wrote) scanning as the
    schema-correct empty frame.
    """
    from .layout import probe_buckets

    cand = probe_buckets(x_range, y_range, bucket_bits)
    jvm = spark._jvm

    def exists(path: str) -> bool:
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        return bool(fs.exists(jpath))

    def n_dirs(path: str) -> int:
        if not exists(path):
            return 0
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        return sum(
            1
            for st in fs.listStatus(jpath)
            if st.getPath().getName().startswith("z_bucket=")
        )

    schema = _MAIN_SCHEMA.format(pay=id_col)

    def pruned(path: str, tag: str) -> DataFrame:
        # a side table no defer cycle ever wrote is a valid state of the
        # layout, not an error: probe main alone (schema-correct empty)
        t = (
            spark.read.schema(schema).parquet(path)
            if exists(path)
            else spark.createDataFrame([], schema)
        )
        return t.where(F.col("z_bucket").isin(cand)).withColumn(
            "__t", F.lit(tag)
        )

    both = pruned(main_path, "m").unionByName(pruned(side_path, "s"))
    in_rect = F.col("xg").between(*x_range) & F.col("yg").between(*y_range)
    return both.agg(
        F.count(F.when(in_rect, 1)).alias("n_rows"),
        F.sum(F.when(in_rect, F.col(id_col))).alias("sum_payload"),
        F.count_distinct("__t", "z_bucket").cast("long").alias("files_scanned"),
    ).withColumn(
        "files_total",
        F.lit(n_dirs(main_path) + n_dirs(side_path)).cast("long"),
    )


# =========================================================================
# Range-chunked z-order write — the 100 TB shape — and its
# footer-statistics probe.
# =========================================================================


def zorder_write_ranged(
    events: DataFrame,
    path: str,
    n_files: int = 16,
    x_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> None:
    """Materialize the z-ordered layout as ``n_files`` contiguous z-RANGE
    chunks — the production shape :func:`layout.zorder_write`'s docstring
    defers to (``repartitionByRange(z) + sortWithinPartitions(z)``), with
    one deliberate substitution: the chunk boundaries come from the EXACT
    distributed rank (schedule.global_rank + the bit-identical ntile
    formula) instead of ``repartitionByRange``'s sampled
    RangePartitioner. Sampling is nondeterministic across input splits;
    the exact ntile makes the physical layout a pure function of the
    data, so per-file bounds are cross-engine attestable (the DuckDB
    oracle recomputes them with a plain ``ntile() OVER (ORDER BY z)``)
    and equal-frequency by construction — every file within one row of
    the same size, where hash buckets inherit the data's skew.

    Files hold CONTIGUOUS, sorted z-runs (``sortWithinPartitions`` keeps
    row-group statistics tight inside each file), so a z-interval probe
    prunes on per-file min-max bounds — :func:`zorder_probe_ranged` —
    without any partition-directory convention. The ``z_file`` output
    partitioning exists only to pin one-file-per-chunk determinism for
    the attestation; the probe never consults it.

    Plan: one NULL-filtering scan materialized once (narrow: id + 2
    longs), a 4-value min-max collect frozen into the grid expression as
    literals, one range-key shuffle (global_rank's bucket exchange), one
    ``n_files``-value hash shuffle into writer tasks. NULL key/timestamp
    rows fail the row (cleanvec doctrine).
    """
    from .dedup import fan_out_small_scan

    # ONE corpus pass (r12 opt, guide §2.4): the r11 shape scanned the
    # events parquet twice (the min-max agg, then the checkpoint
    # materialization) and both scans were single-task at sf0.1 (one
    # parquet row group cannot split). The cleaned narrow frame (id + 2
    # longs) is fanned to the session's parallelism (conditional — a
    # no-op on a well-partitioned 100 TB scan) and materialized ONCE;
    # the stats agg and both of global_rank's actions (boundary sketch
    # collect, consumer write) recompute only the cheap grid/Morton map
    # over the pinned blocks.
    ev_pin = materialize(  # the corpus pin (module docstring)
        fan_out_small_scan(_clean(events, id_col, x_col, ts_col)).select(
            F.col(id_col),
            F.col(x_col).cast("long").alias("__x"),
            _hour_index(ts_col).alias("__y"),
        ),
        "disk",
    )
    ev = ev_pin.df
    row = ev.agg(
        F.min("__x").alias("__xmin"),
        F.max("__x").alias("__xmax"),
        F.min("__y").alias("__ymin"),
        F.max("__y").alias("__ymax"),
    ).first()
    if row is None or row["__xmin"] is None:
        # nothing survived the NULL filter: the empty write still runs so
        # the table exists for the probe (schema-correct empty frame)
        z = ev.select(
            id_col,
            F.lit(None).cast("long").alias("xg"),
            F.lit(None).cast("long").alias("yg"),
            F.lit(None).cast("long").alias("z"),
        ).where(F.lit(False))
    else:
        # stats as int literals: exact int64 either way, and the grid
        # arithmetic stays codegen'd with no broadcast-join node
        xmin, xmax = int(row["__xmin"]), int(row["__xmax"])
        ymin, ymax = int(row["__ymin"]), int(row["__ymax"])
        xg = F.expr(grid_expr_sql("__x", str(xmin), str(xmax)))
        yg = F.expr(grid_expr_sql("__y", str(ymin), str(ymax)))
        z = ev.select(
            id_col,
            xg.alias("xg"),
            yg.alias("yg"),
            morton16(xg, yg).alias("z"),
        )
    ranked = global_rank(z, "z", id_col)
    chunked = ranked.withColumn(
        "z_file", ntile_expr("__r", "__n", n_files).cast("long")
    ).drop("__r", "__n")
    # exchange width pinned to the file count (see layout.zorder_write):
    # an AQE-coalesced single task would sort+write all chunks serially
    chunked.select(id_col, "xg", "yg", "z", "z_file").repartition(
        n_files, "z_file"
    ).sortWithinPartitions("z").write.mode("overwrite").partitionBy(
        "z_file"
    ).parquet(path)
    # stats agg, global_rank's sketch and the write have all executed:
    # release the corpus-sized blocks (the corpus pin, module docstring)
    ev_pin.release()


def probe_z_intervals(
    x_range: tuple[int, int], y_range: tuple[int, int]
) -> list[tuple[int, int]]:
    """The rectangle probe's z-values compressed into maximal contiguous
    [lo, hi] intervals — pure driver-side arithmetic (≤ GRID² Morton
    evaluations), the metadata-only first step of a stats-pruned scan.
    An aligned power-of-two rectangle compresses to few intervals (the
    standard 32×32 probe tile is exactly one)."""
    zs = sorted(
        {
            _py_spread8(x) | (_py_spread8(y) << 1)
            for x in range(x_range[0], x_range[1] + 1)
            for y in range(y_range[0], y_range[1] + 1)
        }
    )
    out: list[tuple[int, int]] = []
    for v in zs:
        if out and v == out[-1][1] + 1:
            out[-1] = (out[-1][0], v)
        else:
            out.append((v, v))
    return out


def file_z_bounds(spark, path: str) -> list[tuple[str, int, int]]:
    """Per-file [min(z), max(z)] from parquet FOOTER statistics —
    metadata, never a data scan. Listing goes through the Hadoop
    FileSystem API and the footer read resolves a pyarrow FileSystem
    from each FULL URI (r11 ADVICE #2: stripping to the bare path broke
    hdfs://-or-s3://-backed tables), so both halves are URI-agnostic —
    the local stand-in for what a lakehouse manifest (Iceberg/Delta
    per-file column bounds) serves at scale; the pruning DECISION
    consumes only (path, lo, hi) triples either way. Sorted by file
    path for deterministic downstream math."""
    import pyarrow.fs as pafs
    import pyarrow.parquet as pq

    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    files: list[str] = []
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        p = it.next().getPath()
        if p.getName().endswith(".parquet"):
            files.append(p.toUri().toString())
    out = []
    for f in sorted(files):
        pa_fs, pa_path = pafs.FileSystem.from_uri(f)
        with pa_fs.open_input_file(pa_path) as fh:
            md = pq.ParquetFile(fh).metadata
        zi = md.schema.to_arrow_schema().get_field_index("z")
        los, his = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(zi).statistics
            if st is not None and st.has_min_max:
                los.append(st.min)
                his.append(st.max)
        if los:
            out.append((f, min(los), max(his)))
    return out


def zorder_probe_ranged(
    spark,
    path: str,
    x_range: tuple[int, int] = PROBE_X,
    y_range: tuple[int, int] = PROBE_Y,
) -> DataFrame:
    """Rectangle probe against a :func:`zorder_write_ranged` table,
    pruned by FILE STATISTICS: the probe's z-intervals (driver
    arithmetic) are intersected with each file's footer [min(z), max(z)]
    — a file is opened only if its bounds overlap an interval, which is
    exactly the decision a lakehouse manifest scan or parquet row-group
    pruning makes. ``files_scanned`` is that physical count, attested
    against the oracle's logical recomputation from per-chunk bounds —
    the predict→actual loop for the ranged layout.

    The data scan reads ONLY the intersecting files (explicit pruned
    file list — metadata decided before any row is read), applies the
    exact rectangle row filter, and reduces to one row: matching count,
    exact int64 payload sum (roundtrip-integrity witness), files
    scanned, files total. An empty table (or a probe no file overlaps)
    aggregates over the schema-correct empty frame instead of failing.
    """
    iv = probe_z_intervals(x_range, y_range)
    bounds = file_z_bounds(spark, path)
    hit = [
        f
        for (f, lo, hi) in bounds
        if any(hi >= a and lo <= b for (a, b) in iv)
    ]
    schema = "event_id long, xg long, yg long, z long"
    t = (
        spark.read.schema(schema).parquet(*hit)
        if hit
        else spark.createDataFrame([], schema)
    )
    in_rect = F.col("xg").between(*x_range) & F.col("yg").between(*y_range)
    return t.agg(
        F.count(F.when(in_rect, 1)).alias("n_rows"),
        F.sum(F.when(in_rect, F.col("event_id"))).alias("sum_payload"),
    ).select(
        "n_rows",
        "sum_payload",
        F.lit(len(hit)).cast("long").alias("files_scanned"),
        F.lit(len(bounds)).cast("long").alias("files_total"),
    )
