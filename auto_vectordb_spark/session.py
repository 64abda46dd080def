"""SparkSession factory tuned for this engine, and :func:`materialize`,
the one way library code pins (and releases) a working set.

Local-mode defaults match the test/bench environment (local[32], single JVM);
on a real cluster the same settings remain sane: AQE handles skew/coalesce at
runtime, Arrow speeds every pandas_udf, UTC pins timestamp semantics for
cross-engine (DuckDB-oracle) comparability. Python workers fork from the
engine's daemon (:mod:`.pydaemon`), which keeps each task from re-reading
Spark's zip archives when it starts.
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "auto_vectordb_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all local cores. Shuffle
    partitions default to the core count — correct for local mode; on a
    1000-executor cluster you'd size this to ~2-3× total cores and let AQE
    coalesce down.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # testdata events.ts is TIMESTAMP(NANOS) which Spark's reader rejects;
        # read as long and convert (floor-to-µs, matching DuckDB) in load_views
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # size-guarded limit-probes must scan in ONE parallel wave, not
        # CollectLimit's sequential 1, 4, 16... escalation (see
        # plans/parity.py ensure_session_confs)
        .config("spark.sql.limit.initialNumPartitions", "1024")
        .config("spark.python.daemon.module", "auto_vectordb_spark.pydaemon")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


class Materialized:
    """A pin's handle: ``df`` reads the pinned blocks and :meth:`release`
    frees exactly what :func:`materialize` created (idempotent). As a
    context manager it yields ``df`` and releases on exit."""

    def __init__(self, df: DataFrame, free) -> None:
        self.df, self._free = df, free

    def release(self) -> None:
        if self._free is not None:
            self._free(False)  # non-blocking
            self._free = None

    def __enter__(self) -> DataFrame:
        return self.df

    def __exit__(self, *exc) -> None:
        self.release()


def materialize(df: DataFrame, kind: str) -> Materialized:
    """Pin ``df`` — the only way library code pins a working set. Whoever
    holds the handle owns the pin; a loop releases the previous round's
    handle once the new round's is materialized.

    - ``"memory"``: lazy ``persist()`` (MEMORY_AND_DISK, the ``cache()``
      level); the first action fills it. ``clearCache()`` also frees it.
    - ``"disk"``: ``persist(DISK_ONLY)`` filled by one ``count()``; keeps
      lineage, so a lost executor recomputes its blocks.
    - ``"checkpoint"``: eager ``localCheckpoint``, cutting the lineage. Its
      blocks belong to the plan's internal RDD (``LogicalRDD``), which
      release unpersists: ``Dataset.unpersist`` and ``clearCache()`` do not
      touch it, and ``df.rdd.unpersist`` hits a fresh conversion RDD
      (measured: storage unchanged).
    """
    if kind == "memory":
        df = df.persist()
        return Materialized(df, df.unpersist)
    if kind == "disk":
        df = df.persist(StorageLevel.DISK_ONLY)
        df.count()
        return Materialized(df, df.unpersist)
    if kind == "checkpoint":
        df = df.localCheckpoint(eager=True)
        return Materialized(df, df._jdf.queryExecution().analyzed().rdd().unpersist)  # noqa: SLF001
    raise ValueError(f"unknown materialize kind {kind!r}")
