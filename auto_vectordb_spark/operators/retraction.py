"""Retraction merges: absorbing DELETES into persisted aggregate state.

operators/incremental.py carries the insert-only half of incremental view
maintenance — state + delta-batch merges attested equal to a from-scratch
recompute. Production pipelines also receive the other sign: GDPR
erasure requests and late-arriving corrections arrive as a batch of
REMOVALS that must be absorbed into the same derived tables without the
full recompute. This module carries that half, one function per state
class, because the algebra splits cleanly in two:

* :func:`rollup_state_r` / :func:`rollup_retract` — additive aggregates
  are a GROUP (not just a monoid): every partial has an exact inverse, so
  a retraction is a merge of NEGATED partials. The one subtlety is
  nullability: ``sum`` ignores NULLs, so inverting it exactly requires
  the state to also carry the count of NON-NULL measure rows (``n_vals``)
  — without it, a group whose surviving rows are all-NULL would finalize
  to 0 instead of NULL. Retract-capable rollup state therefore carries
  (n_events, n_vals, sum_cents); groups whose n_events reaches zero are
  dropped, exactly as a from-scratch recompute would never emit them.
* :func:`topk_retract` — bounded top-k state is NOT invertible: evicting
  a state row leaves a hole the k-row state cannot refill from itself
  (the k+1-th row was discarded at build time). The correct policy is a
  tombstone-aware REFILL: only groups where a tombstone actually hits a
  state row are re-ranked, from the base table pruned to those groups
  (semi-join — partition-pruned when the base is stored partitioned by
  the group key); every other group's state passes through untouched.
  A tombstone below the current cut can never change top-k, so the
  affected-group set is exact, not conservative.
* :func:`scd2_retract` — SCD-2 islands are also non-invertible: deleting
  the events of a middle island can COALESCE its neighbours (same state
  on both sides), which cannot be derived from the island table alone.
  Same refill policy: rebuild only the affected users from the base
  event history pruned to them; untouched users pass through.
* :func:`session_retract` — same rebuild policy for the 4-scalar session
  state (a deleted bridging event can SPLIT a session).
* INDEX erasure: :func:`dedup_index_retract` absorbs a delete list into
  the persisted MinHash bucket/pair artifacts without re-shingling
  (bridge deletions split components — keep-one winners change for docs
  never deleted), and :func:`bm25_delete_docs` /
  :func:`bm25_index_with_deletes` give the incremental BM25 index
  tombstone semantics: delete-at-epoch kills earlier versions, a later
  re-index resurrects, df/N/avgdl recomputed over live docs only.

Separate module by design (staleness blast radius: incremental.py holds
four fresh attestations; see MEMORY / tools/blast_radius.py). Reference
scope note: the reference's point delete is P4
(backend/process/postgres.py:365-400, delete-by-ids); this module is
that operation composed with derived state — part of the
training-data-pipeline extension surface (SURVEY.md step 8).

Scale shapes: the rollup retract is one hash shuffle over state +
retract-batch rollup rows; the top-k refill probes the base for affected
GROUPS only (the semi-join key is the state's own group key, so a
group-partitioned base prunes to the touched partitions); the SCD-2
rebuild reads the base history for affected USERS only. No path ever
re-reads the full raw history — the entire point of keeping state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .incremental import SESSION_GAP_US, _cents, scd2_state, session_state, topk_state


def rollup_state_r(events: DataFrame, extra_keys: tuple[str, ...] = ()) -> DataFrame:
    """Retract-capable hourly rollup state: (window_start, event_type,
    n_events, n_vals, sum_cents). Identical to incremental.hourly_rollup
    plus ``n_vals`` — the count of non-NULL measure rows, the extra
    integer that makes the state an exact GROUP element (see module
    docstring: without it, all-NULL-survivor groups finalize wrong).

    ``extra_keys`` adds grouping columns (appended after event_type in the
    output) so a caller can split ONE pass over a mixed batch by a tag
    column — e.g. the CDC apply loop groups by the op column and derives
    both its upsert and its delete partials from the same aggregate
    (int64 partials regroup exactly, so filtering the tagged aggregate
    equals aggregating each filtered slice). Default unchanged."""
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type", *extra_keys)
        .agg(
            F.count("*").alias("n_events"),
            F.count("value").alias("n_vals"),
            F.sum(_cents(F.col("value"))).alias("sum_cents"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:00").alias(
                "window_start"
            ),
            "event_type",
            *extra_keys,
            "n_events",
            "n_vals",
            "sum_cents",
        )
    )


def _rollup_add(state: DataFrame, delta_state: DataFrame) -> DataFrame:
    return (
        state.unionByName(delta_state)
        .groupBy("window_start", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("n_vals").alias("n_vals"),
            F.sum("sum_cents").alias("sum_cents"),
        )
    )


def rollup_merge_r(stored: DataFrame, delta_events: DataFrame) -> DataFrame:
    """Insert-side merge of the retract-capable state (the
    incremental.rollup_merge algebra over the 3-partial shape)."""
    return _rollup_add(stored, rollup_state_r(delta_events))


def rollup_retract(stored: DataFrame, retract_events: DataFrame) -> DataFrame:
    """Absorb a batch of REMOVALS (CDC delete records / GDPR erasure —
    the deleted rows' images, which is how a changefeed delivers deletes)
    into the persisted rollup: aggregate the retract batch alone, NEGATE
    its integer partials, and merge. Exact because int64 partials form a
    group under addition. Groups whose n_events reaches zero are dropped
    — a from-scratch recompute of the surviving rows never emits them.
    Requires retract_events ⊆ the rows the state was built from (the CDC
    contract); one hash shuffle over state + retract-rollup rows, the
    historical raw events never reread."""
    neg = rollup_state_r(retract_events).select(
        "window_start",
        "event_type",
        (-F.col("n_events")).alias("n_events"),
        (-F.col("n_vals")).alias("n_vals"),
        (-F.col("sum_cents")).alias("sum_cents"),
    )
    return _rollup_add(stored, neg).where(F.col("n_events") > 0)


def rollup_finalize_r(state: DataFrame) -> DataFrame:
    """Display edge: cents → double sum_value, NULL when no surviving row
    carried a value (n_vals = 0) — bit-matching the from-scratch sum."""
    return state.select(
        "window_start",
        "event_type",
        "n_events",
        F.when(
            F.col("n_vals") > 0, F.col("sum_cents").cast("double") / 100
        ).alias("sum_value"),
    )


def topk_retract(
    state: DataFrame,
    base: DataFrame,
    tombstones: DataFrame,
    group_cols: list[str],
    score_col: str,
    k: int,
    tie_break: str,
) -> DataFrame:
    """Tombstone-aware top-k maintenance: ``tombstones`` carries
    (group_cols…, tie_break) keys of deleted base rows. A tombstone below
    the current cut cannot change top-k, so the AFFECTED groups are
    exactly those where a tombstone hits a state row; only those are
    re-ranked, from the base pruned to them (semi-join on the group key —
    partition-pruned when the base is stored partitioned by it) minus the
    tombstoned rows. Untouched groups pass through without consulting the
    base at all (test-pinned via a poison-row probe,
    tests/test_retraction.py). A group whose surviving base rows run out
    refills short (or disappears) — exactly the from-scratch answer."""
    key = [*group_cols, tie_break]
    affected = (
        state.join(tombstones.select(*key), key, "left_semi")
        .select(*group_cols)
        .distinct()
    )
    survivors = base.join(affected, group_cols, "left_semi").join(
        tombstones.select(*key), key, "left_anti"
    )
    refill = topk_state(survivors, group_cols, score_col, k, tie_break)
    untouched = state.join(affected, group_cols, "left_anti")
    return untouched.unionByName(refill)


def session_retract(
    state: DataFrame,
    base_events: DataFrame,
    deleted: DataFrame,
    gap_us: int = SESSION_GAP_US,
) -> DataFrame:
    """Absorb event-level deletions into per-user session state: the
    4-scalar state is non-invertible — removing a bridging event can
    WIDEN a gap past the timeout and SPLIT what was one session into
    two, or erase a session entirely, neither derivable from
    (n_sessions, n_events, first, last) alone — so the policy is the
    affected-user rebuild from the base history pruned to them;
    untouched users pass through (poison-row pinned,
    tests/test_retraction.py). A user whose events are all deleted
    disappears, as from-scratch would have it."""
    affected = deleted.select("user_id").distinct()
    survivors = base_events.join(affected, "user_id", "left_semi").join(
        deleted.select("user_id", "event_id"),
        ["user_id", "event_id"],
        "left_anti",
    )
    rebuilt = session_state(survivors, gap_us=gap_us)
    untouched = state.join(affected, "user_id", "left_anti")
    return untouched.unionByName(rebuilt)


def dedup_index_retract(
    docs: DataFrame,
    stored_buckets: DataFrame,
    stored_pairs: DataFrame,
    deleted: DataFrame,
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """GDPR erasure against the PERSISTED dedup index
    (lifecycle.snapshot_dedup_incremental's two artifacts): returns
    (survivors, updated_buckets, updated_pairs) where the survivor set
    equals a from-scratch keep-one dedup of ``docs`` minus ``deleted``
    and the updated artifacts are exactly what that from-scratch run
    would persist. Correct WITHOUT re-shingling anything: an LSH pair
    (a, b) is a property of the two docs' own signatures alone, so the
    survivor pair graph is precisely the stored graph with both
    endpoints surviving, and the bucket table loses only the deleted
    docs' rows. Deleting a BRIDGE doc can split a component — keep-one
    winners can change for docs that were never deleted — which falls
    out of recomputing components over the (dup-graph-sized) filtered
    pair graph. Three anti-joins against the (tiny, broadcastable)
    delete list + a dup-graph component pass; the corpus-sized work is
    one final anti-join, same as the insert-side incremental."""
    from .dedup import connected_components

    del_ids = deleted.select(F.col(id_col)).distinct()
    upd_pairs = (
        stored_pairs.select("id_a", "id_b")
        .join(
            F.broadcast(del_ids.withColumnRenamed(id_col, "id_a")),
            "id_a",
            "left_anti",
        )
        .join(
            F.broadcast(del_ids.withColumnRenamed(id_col, "id_b")),
            "id_b",
            "left_anti",
        )
        # equi-joins put the join key first; restore the artifact's column
        # order so the updated table is drop-in for the stored one
        .select("id_a", "id_b")
    )
    upd_buckets = stored_buckets.join(F.broadcast(del_ids), id_col, "left_anti")
    comps = connected_components(upd_pairs)
    losers = comps.where(F.col("doc_id") != F.col("component_id")).select(
        F.col("doc_id").alias(id_col)
    )
    survivors = docs.join(F.broadcast(del_ids), id_col, "left_anti").join(
        losers, id_col, "left_anti"
    )
    return survivors, upd_buckets, upd_pairs


def bm25_index_append(
    docs: DataFrame,
    index_dir: str,
    epoch: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Batch twin of the streaming writer's per-micro-batch append
    (streaming.pipeline.incremental_bm25_index — identical artifact
    schemas: ``postings/`` (doc_id, term, tf, epoch), ``doc_lens/``
    (doc_id, dl, epoch)), for backfills and batch re-index jobs that
    share an index dir with the stream. Re-appending a doc at a higher
    epoch logically overwrites it (latest-epoch-wins readers)."""
    from concurrent.futures import ThreadPoolExecutor

    from ..functions.text import tokenize

    b = docs.dropDuplicates([id_col])
    toks = tokenize(F.col(text_col))
    base = b.select(F.col(id_col).alias("doc_id"), toks.alias("__toks"))

    def write_postings():
        (
            base.select("doc_id", F.explode("__toks").alias("term"))
            .groupBy("doc_id", "term")
            .agg(F.count("*").alias("tf"))
            .withColumn("epoch", F.lit(epoch).cast("long"))
            .write.mode("append")
            .parquet(f"{index_dir}/postings")
        )

    def write_doc_lens():
        (
            base.select("doc_id", F.size("__toks").alias("dl"))
            .filter(F.col("dl") > 0)
            .withColumn("epoch", F.lit(epoch).cast("long"))
            .write.mode("append")
            .parquet(f"{index_dir}/doc_lens")
        )

    # The two artifact writes are independent jobs over the same lazy
    # tokenized projection (different output dirs, no shared state):
    # overlap them so the doc_lens job back-fills executor cores idled by
    # the postings job's shuffle tail (opt guide §2.6) instead of paying
    # two sequential batch passes end to end.
    with ThreadPoolExecutor(max_workers=2) as pool:
        for f in [pool.submit(write_postings), pool.submit(write_doc_lens)]:
            f.result()


def bm25_delete_docs(
    spark, index_dir: str, deleted: DataFrame, epoch: int, id_col: str = "doc_id"
) -> None:
    """GDPR erasure for the incremental BM25 index: append TOMBSTONES
    (doc_id, epoch) to ``deletes/`` — never touch the big artifacts in
    the hot path. A tombstone at epoch e kills every version of the doc
    with epoch <= e; a later re-index (epoch > e) resurrects it — the
    same latest-wins algebra the index already uses for overwrites, so
    deletes, re-indexes and crash-replays all compose (replayed
    tombstones are identical rows, absorbed by max()). Tombstones are
    doc-count-sized at worst; the erasure itself is O(delete list)."""
    (
        deleted.select(F.col(id_col).alias("doc_id"))
        .distinct()
        .withColumn("epoch", F.lit(epoch).cast("long"))
        .write.mode("append")
        .parquet(f"{index_dir}/deletes")
    )


def bm25_index_with_deletes(spark, index_dir: str):
    """Delete-aware reader for the incremental BM25 index: latest-epoch
    resolution per doc (bm25.index_from_dir semantics, crash-replay
    dedup included) PLUS tombstone filtering — a doc is live iff its
    latest indexed epoch is strictly greater than its latest tombstone
    (delete wins an equal-epoch tie: within one batch, erase means
    erase). df/N/avgdl are recomputed over LIVE docs only, so scores are
    bit-identical to a from-scratch build over the logically-current
    corpus (oracle-attested: bm25_delete_search). The liveness join is
    per-doc over the SMALL artifacts; postings, the big table, pays the
    same one equi-join as the delete-free reader."""
    from pyspark.sql import types as T
    from pyspark.sql.utils import AnalysisException

    from .bm25 import BM25Index, _stats_of

    lens_all = spark.read.parquet(f"{index_dir}/doc_lens")
    post_all = spark.read.parquet(f"{index_dir}/postings")
    del_schema = T.StructType(
        [
            T.StructField("doc_id", lens_all.schema["doc_id"].dataType),
            T.StructField("epoch", T.LongType()),
        ]
    )
    try:
        deletes = spark.read.schema(del_schema).parquet(f"{index_dir}/deletes")
    except AnalysisException:
        deletes = spark.createDataFrame([], del_schema)
    latest = lens_all.groupBy("doc_id").agg(F.max("epoch").alias("epoch"))
    del_latest = deletes.groupBy("doc_id").agg(F.max("epoch").alias("__de"))
    live = (
        latest.join(del_latest, "doc_id", "left_outer")
        .where(F.col("__de").isNull() | (F.col("epoch") > F.col("__de")))
        .select("doc_id", "epoch")
    )
    doc_lens = (
        lens_all.join(live, ["doc_id", "epoch"])
        .dropDuplicates(["doc_id"])
        .select("doc_id", "dl")
    )
    postings = (
        post_all.join(live, ["doc_id", "epoch"])
        .dropDuplicates(["doc_id", "term"])
        .select("term", "doc_id", "tf")
    )
    term_df = postings.groupBy("term").agg(F.count("*").alias("df"))
    return BM25Index(postings, doc_lens, term_df, _stats_of(doc_lens))


def bm25_reclaim_deleted(spark, index_dir: str) -> dict[str, int]:
    """PHYSICAL erasure for the BM25 index: tombstones make a doc
    invisible, but right-to-erasure means the bytes must go — this
    maintenance rewrite drops every row of every DEAD doc (latest indexed
    epoch <= latest tombstone) from ``postings/`` and ``doc_lens/``.
    Live docs keep ALL their version rows (squashing versions is
    bm25.compact_index's job — the two maintenance passes compose in
    either order). Tombstones are KEPT: epochs are monotone under one
    checkpoint, so a tombstone only ever kills already-superseded rows,
    and a crash-replayed old append must still find its erased ids dead.
    Same staging + aside-rename swap (and paused-ingest window) as
    compact_index; reader output is bit-identical before and after
    (test-pinned). Returns before/after row counts per artifact."""
    import shutil
    from pathlib import Path

    lens_all = spark.read.parquet(f"{index_dir}/doc_lens")
    post_all = spark.read.parquet(f"{index_dir}/postings")
    latest = lens_all.groupBy("doc_id").agg(F.max("epoch").alias("epoch"))
    deletes = spark.read.parquet(f"{index_dir}/deletes")
    del_latest = deletes.groupBy("doc_id").agg(F.max("epoch").alias("__de"))
    dead = (
        latest.join(del_latest, "doc_id")
        .where(F.col("epoch") <= F.col("__de"))
        .select("doc_id")
    )
    counts = {
        "doc_lens_before": lens_all.count(),
        "postings_before": post_all.count(),
    }
    jobs = (
        ("doc_lens", lens_all.join(dead, "doc_id", "left_anti")),
        ("postings", post_all.join(dead, "doc_id", "left_anti")),
    )
    base = Path(index_dir)
    # materialize BOTH staging writes before swapping EITHER artifact:
    # the dead set derives from doc_lens, so swapping it first would pull
    # the files out from under the postings job (compact_index doctrine)
    for name, df in jobs:
        df.write.mode("overwrite").parquet(str(base / f"_{name}_reclaim"))
    for name, _ in jobs:
        final = base / name
        old = base / f"_{name}_old"
        if old.exists():
            shutil.rmtree(old)
        final.rename(old)
        (base / f"_{name}_reclaim").rename(final)
        shutil.rmtree(old)
        spark.catalog.refreshByPath(str(final))
    counts["doc_lens_after"] = spark.read.parquet(f"{index_dir}/doc_lens").count()
    counts["postings_after"] = spark.read.parquet(f"{index_dir}/postings").count()
    return counts


def bm25_compact_deletes(spark, index_dir: str) -> dict[str, int]:
    """Tombstone-log compaction: keep only each doc's HIGHEST tombstone
    epoch (replayed/duplicate delete appends squash to one row). Lower
    tombstones are strictly dominated — max() is what the reader takes —
    so this is unconditionally safe, bounding the log at one row per
    ever-deleted doc. Same aside-rename swap; run with ingest paused."""
    import shutil
    from pathlib import Path

    deletes = spark.read.parquet(f"{index_dir}/deletes")
    before = deletes.count()
    squashed = deletes.groupBy("doc_id").agg(F.max("epoch").alias("epoch"))
    base = Path(index_dir)
    squashed.write.mode("overwrite").parquet(str(base / "_deletes_compact"))
    final, old = base / "deletes", base / "_deletes_old"
    if old.exists():
        shutil.rmtree(old)
    final.rename(old)
    (base / "_deletes_compact").rename(final)
    shutil.rmtree(old)
    spark.catalog.refreshByPath(str(final))
    return {
        "deletes_before": before,
        "deletes_after": spark.read.parquet(f"{index_dir}/deletes").count(),
    }


def ivf_delete_vectors(
    spark, path: str, deleted: DataFrame, corpus_id: str = "vec_id"
) -> None:
    """GDPR erasure for the persisted IVF index (knn.ivf_write/ivf_append
    layout): append tombstone ids to the ``<path>_deletes`` side artifact
    — O(delete list), the big partitioned index is never touched in the
    hot path. The IVF log carries no epochs (frozen-centroid appends are
    idempotent), so tombstones are TERMINAL: re-adding an erased id is a
    corpus-rebuild decision, not an append (mirrors faiss remove_ids).
    Replayed delete batches append identical ids — the reader's distinct
    absorbs them."""
    (
        deleted.select(F.col(corpus_id))
        .distinct()
        .write.mode("append")
        .parquet(f"{path}_deletes")
    )


def ivf_search_persisted_with_deletes(
    queries: DataFrame,
    spark,
    path: str,
    centroids: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    vec_col: str = "embedding",
    corpus_id: str = "vec_id",
) -> DataFrame:
    """knn.ivf_search_persisted with tombstone filtering: the probed
    partitions are read (same partition pruning), then tombstoned ids are
    anti-joined out BEFORE scoring — results are exactly what searching an
    index rebuilt over the survivors (same frozen centroids) returns,
    test-pinned in tests/test_retraction.py. The tombstone list is
    broadcast-sized against any realistic erasure volume; when it grows,
    :func:`ivf_reclaim_deleted` physically reclaims."""
    from .knn import ivf_read_pruned, knn_exact, top_k_per_group
    from ..functions import vector as V

    probes = knn_exact(
        queries,
        centroids.select(
            F.col("centroid_id"), F.col("centroid").alias("embedding")
        ),
        k=nprobe,
        corpus_id="centroid_id",
    ).select("query_id", "centroid_id")
    probe_ids = [
        r["centroid_id"]
        for r in probes.select("centroid_id").distinct().collect()
    ]
    try:
        pruned = ivf_read_pruned(spark, path, probe_ids)
    except Exception:
        # an index whose every vector was reclaimed (or a zero-row write)
        # has no readable parquet schema — searching it returns the
        # schema-correct empty result, not an analysis crash
        qt = dict(queries.dtypes)["query_id"]
        return spark.createDataFrame(
            [], f"query_id {qt}, {corpus_id} long, score double"
        )
    index = pruned.join(
        F.broadcast(_ivf_tombstones(spark, path, corpus_id)),
        corpus_id,
        "left_anti",
    )
    qv = queries.select("query_id", F.col(vec_col).alias("__qv"))
    cand = (
        F.broadcast(probes.join(qv, "query_id"))
        .join(index, "centroid_id")
        .withColumn("score", V.cosine(F.col("__qv"), F.col(vec_col)))
    )
    best = (
        cand.select("query_id", corpus_id, "score")
        .groupBy("query_id", corpus_id)
        .agg(F.max("score").alias("score"))
    )
    return top_k_per_group(best, ["query_id"], "score", k, tie_break=corpus_id)


def _ivf_tombstones(spark, path: str, corpus_id: str) -> DataFrame:
    from pyspark.sql import types as T
    from pyspark.sql.utils import AnalysisException

    schema = T.StructType([T.StructField(corpus_id, T.LongType())])
    try:
        return spark.read.schema(schema).parquet(f"{path}_deletes").distinct()
    except AnalysisException:
        return spark.createDataFrame([], schema)


def ivf_reclaim_deleted(spark, path: str, corpus_id: str = "vec_id") -> dict[str, int]:
    """Physically drop tombstoned vectors from the persisted IVF index
    (run from the same paused-ingest maintenance window as
    knn.ivf_compact; same staging + aside-rename swap). Tombstones are
    KEPT after the reclaim — they are terminal under the epoch-free
    append contract, and a crash-replayed old append must still find its
    erased ids dead. Returns {rows_before, rows_after}."""
    import shutil
    from pathlib import Path

    from pyspark.sql.utils import AnalysisException

    try:
        idx = spark.read.parquet(path)
    except AnalysisException:
        # already-empty index (zero-row write has no schema): nothing to do
        return {"rows_before": 0, "rows_after": 0}
    before = idx.count()
    survivors = idx.join(
        F.broadcast(_ivf_tombstones(spark, path, corpus_id)),
        corpus_id,
        "left_anti",
    )
    staging = str(Path(path).parent / f"_{Path(path).name}_reclaim")
    if survivors.isEmpty():
        # a fully-reclaimed index: partitionBy writes NO files for zero
        # rows (unreadable dir) — write unpartitioned so the schema
        # survives; centroid_id stays a normal column, which the pruned
        # read's filter handles identically
        survivors.write.mode("overwrite").parquet(staging)
    else:
        survivors.write.mode("overwrite").partitionBy("centroid_id").parquet(staging)
    old = Path(path).parent / f"_{Path(path).name}_old"
    if old.exists():
        shutil.rmtree(old)
    Path(path).rename(old)
    Path(staging).rename(path)
    shutil.rmtree(old)
    spark.catalog.refreshByPath(path)
    return {
        "rows_before": before,
        "rows_after": spark.read.parquet(path).count(),
    }


def scd2_retract(
    state: DataFrame, base_events: DataFrame, deleted: DataFrame
) -> DataFrame:
    """Absorb event-level deletions (late-arriving corrections / GDPR)
    into SCD-2 island state: island tables are not invertible — removing
    a middle island's events can COALESCE its neighbours — so the policy
    is an affected-user rebuild: users named in ``deleted`` (user_id,
    event_id) are re-derived from the base history pruned to them (one
    semi-join) minus the deleted events; every other user's state passes
    through untouched (test-pinned via a poison-row probe). A user whose
    events are all deleted disappears, as a from-scratch recompute would
    have it. ``ord`` is per-user, so rebuilt and untouched rows need no
    renumbering to remain valid mergeable state."""
    affected = deleted.select("user_id").distinct()
    survivors = base_events.join(affected, "user_id", "left_semi").join(
        deleted.select("user_id", "event_id"),
        ["user_id", "event_id"],
        "left_anti",
    )
    rebuilt = scd2_state(survivors)
    untouched = state.join(affected, "user_id", "left_anti")
    return untouched.unionByName(rebuilt)
