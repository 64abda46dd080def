"""Deduplication operators for LLM training-data pipelines (north-star
extension per BASELINE.json; the reference's only dedup is idempotent
re-index by id / hashed_page_content identity columns,
/root/reference/backend/process/parsing.py:110-112,
elasticsearch_index.py:141).

Five tiers, cheap → thorough, all shuffle-disciplined:

1. :func:`exact_dedup` — hash-groupBy on md5(text); one shuffle on a short
   key. The 100 TB workhorse (removes the bulk of dups first).
2. :func:`minhash_signatures` / :func:`minhash_lsh_pairs` — MinHash + LSH
   banding: shingle → 60-bit stable hash → H universal hashes → min per doc
   (ONE groupBy) → band keys → self-join *within band buckets only*. The
   candidate join never touches the full N² space; band buckets bound it.
3. :func:`simhash_values` / :func:`simhash_pairs` — 32-bit SimHash with
   hamming-distance ≤ r pairing via block keys (split 32 bits into r+1
   blocks; Pigeonhole: any pair within distance r shares ≥1 exact block →
   equi-join on block value, then exact hamming filter).
4. :func:`ngram_jaccard_pairs` — exact n-gram Jaccard via inverted shingle
   index (explode distinct shingles, equi-join on shingle, count
   intersections — never a crossJoin).
5. :func:`embedding_neardup_pairs` — cosine near-dup over embeddings; exact
   all-pairs for oracle-checkable sizes, sign-LSH-bucketed BLAS at scale
   (:func:`embedding_neardup_pairs_blas_bucketed`).

All hash math uses functions/hashing.py portable primitives so every operator
here has a DuckDB oracle twin (plans/parity.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import cleanvec as CV
from ..functions import hashing as H
from ..functions import vector as V
from ..functions.text import shingles, tokenize
from ..session import materialize

DEFAULT_NUM_HASHES = 16
DEFAULT_BANDS = 4  # 4 bands × 4 rows

# Version of the fast=True (xxhash64) shingle-hash family. Bumped to 2 when
# abs() became a sign-bit mask (round 4): ~half of all hash values changed,
# so ANY persisted artifact built with fast=True under version 1 — bucket
# tables probed by minhash_lsh_pairs_incremental above all — must be
# rebuilt; probing across versions silently finds zero cross-batch pairs.
# Persist this constant alongside fast bucket tables and refuse mismatches.
# The portable MD5 path (fast=False, the oracle-verified default) is
# unaffected and has never changed.
FAST_HASH_VERSION = 2


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup: keep the lowest id per md5(text); report group size.

    Output: (keep_id, n_dups, content_hash). Map-side combine makes this one
    short-key shuffle regardless of corpus size.
    """
    return (
        docs.select(F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_dups"))
        .select("keep_id", "n_dups", "content_hash")
    )


def fan_out_small_scan(docs: DataFrame) -> DataFrame:
    """Repartition an under-parallelized scan to the session's parallelism.

    Tokenize/shingle/hash is the expensive per-row stage of every dedup
    front end (~200 µs/doc — orders beyond normal column work), so an
    under-parallelized scan serializes it: a single-row-group parquet file
    CANNOT split, and the whole front end runs on one core (measured
    2.3 s → 1.7 s for minhash LSH pairs at sf0.1/local[32] from this
    fan-out alone). Strictly conditional — a corpus scan that already
    parallelizes (the 100 TB case: thousands of row groups) is untouched,
    and the shuffled payload is the raw doc rows ONCE, far smaller than
    the exploded shingle stream it unlocks parallelism for.
    """
    if docs.isStreaming:  # partition introspection needs a batch plan
        return docs
    par = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        return docs.repartition(par)
    return docs


def doc_shingle_hashes(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3,
    fast: bool = False,
    fan_out: bool = True,
) -> DataFrame:
    """(doc_id, sh) — distinct 60-bit hashes of word k-shingles per doc.

    ``fan_out=False`` skips :func:`fan_out_small_scan` for callers that
    already fanned the input (ngram_jaccard_pairs) — the re-check would be
    a no-op but costs an extra driver-side plan materialization per call.

    Per-doc dedup happens with ``array_distinct`` BEFORE the explode — inside
    the row, no shuffle — rather than a post-explode ``.distinct()`` which
    would shuffle the full exploded shingle table.

    ``fast=True`` swaps the oracle-portable MD5 hash for JVM-native
    xxhash64 — the production knob for 100 TB runs, where hashing every
    shingle dominates the dedup front end (MD5 materializes a 32-char hex
    string per shingle; xxhash64 is one codegen'd long). Same estimator
    family, different sample: candidate pairs differ only in MinHash
    sampling noise (gated in tests/test_dedup.py).
    """
    def h(c):
        # (a*(h%P)+b)%P needs a non-negative input: Spark's % keeps the
        # sign and NumPy's (the MinHash fold) floors, so only h >= 0 gives
        # one value in [0, P) on both. Mask the sign bit rather than abs():
        # abs(Long.MIN_VALUE) is still negative in two's complement, and
        # abs folds ±x into one value, doubling collisions.
        return (
            H.fast_hash64(c).bitwiseAND(F.lit(0x7FFFFFFFFFFFFFFF))
            if fast
            else H.stable_hash60(c)
        )

    if fan_out:
        docs = fan_out_small_scan(docs)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(shingles(tokenize(F.col(text_col)), k))).alias("shingle"),
    ).select("doc_id", h(F.col("shingle")).alias("sh"))


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = DEFAULT_NUM_HASHES,
    shingle_k: int = 3,
    fast: bool = False,
) -> DataFrame:
    """(doc_id, mh_0..mh_{H-1}) — MinHash signature, one shuffle of one
    partial row per doc.

    The JVM emits the (doc_id, sh) stream of :func:`doc_shingle_hashes`
    (md5-60, or xxhash64 with ``fast=True``); a ``mapInArrow`` fold then
    reduces each Arrow batch on its own:

    - sort the batch by doc_id (dictionary codes, so any id type and one
      NULL key work alike) and compute ``(a·(h mod P)+b) mod P`` for all H
      universal hashes as one (rows, H) int64 matrix — a, b < 2^30 and
      h mod P < P ≈ 2^32, so every term stays below 2^63 and the result is
      exactly :func:`hashing.universal_hash`;
    - ``np.minimum.reduceat`` over each doc's run emits one partial row
      per doc per batch.

    ``groupBy(doc_id).min`` merges the partials. ``min`` is associative, so
    a doc whose shingles straddle batches, or whose id repeats across input
    rows, gets the signature of the whole shingle multiset — identical to
    the per-shingle aggregate form and the DuckDB ``GROUP BY`` (a NULL
    doc_id keeps its one NULL-key row; a doc with no shingle has no row).
    The partial aggregate runs below the one doc_id exchange, so the
    shuffle carries H+1 longs per doc per map partition instead of every
    shingle hash, and the md5 projection stays below it, evaluated once.

    Measured dead ends (don't retry): H ``min(universal_hash(sh))``
    aggregates over the exploded stream shuffle every shingle and need a
    repartition barrier to keep Catalyst from inlining md5 into all H
    aggregates (11× slower without it); a zero-shuffle all-array form
    (aggregate/zip_with per row) measured ~4× slower, since Spark's
    higher-order array lambdas evaluate interpreted, per element.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    sh = doc_shingle_hashes(docs, id_col, text_col, shingle_k, fast=fast)
    names = [f"mh_{j}" for j in range(num_hashes)]
    a, b = np.array(H.minhash_params(num_hashes), dtype=np.int64).T
    prime = H.MINHASH_PRIME
    id_type = sh.schema["doc_id"].dataType.simpleString()

    def fold(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            codes = pc.dictionary_encode(batch.column("doc_id"), null_encoding="encode")
            code = codes.indices.to_numpy()
            order = np.argsort(code, kind="stable")
            run = code[order]
            starts = np.flatnonzero(np.r_[True, run[1:] != run[:-1]])
            h = batch.column("sh").to_numpy()[order] % prime
            sig = np.minimum.reduceat((h[:, None] * a + b) % prime, starts, axis=0)
            cols = [codes.dictionary.take(pa.array(run[starts]))]
            cols += [pa.array(c) for c in sig.T]
            yield pa.RecordBatch.from_arrays(cols, names=["doc_id", *names])

    partial = sh.mapInArrow(
        fold, schema=f"doc_id {id_type}, " + ", ".join(f"{n} long" for n in names)
    )
    return partial.groupBy("doc_id").agg(*[F.min(n).alias(n) for n in names])


def minhash_bucket_table(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_k: int = 3,
    fast: bool = False,
) -> DataFrame:
    """(doc_id, band, bkey) — the LSH bucket table, i.e. the *persistable
    dedup index artifact*. Write it partitioned/bucketed by (band, bkey) and
    incremental batches join against it without touching old documents
    (:func:`minhash_lsh_pairs_incremental`).

    ONE pass over the signatures: band keys as an array of structs exploded
    1→bands rows. A union of per-band projections would recompute the whole
    shingle→minhash pipeline once per band.

    With ``fast=True`` every row carries a literal ``fhv`` column =
    :data:`FAST_HASH_VERSION`, so the stamp persists WITH the table
    (parquet write included) and :func:`minhash_lsh_pairs_incremental` can
    refuse a cross-version probe instead of silently finding zero
    cross-batch pairs. The portable md5 path has no version column — its
    hash family has never changed.
    """
    assert num_hashes % bands == 0
    r = num_hashes // bands
    sig = minhash_signatures(docs, id_col, text_col, num_hashes, shingle_k, fast=fast)
    band_structs = []
    for bi in range(bands):
        cols = [F.col(f"mh_{bi * r + j}") for j in range(r)]
        bkey = (
            F.xxhash64(*cols).cast("string")  # per-doc, not per-shingle — but free
            if fast
            else F.md5(F.concat_ws("_", *[c.cast("string") for c in cols]))
        )
        band_structs.append(
            F.struct(F.lit(bi).alias("band"), bkey.alias("bkey"))
        )
    out = sig.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bb")
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey"))
    if fast:
        out = out.withColumn("fhv", F.lit(FAST_HASH_VERSION))
    return out


def lsh_pairs_from_buckets(buckets: DataFrame) -> DataFrame:
    """Candidate pairs from an EXISTING bucket table (in-plan or a stored
    parquet artifact): the banded self-join + per-pair band count of
    :func:`minhash_lsh_pairs`, without re-deriving the shingle→minhash
    front end. A caller that has already materialized the bucket table
    (the persisted-index lifecycle entries) derives the pair graph from
    the STORED rows — the front end, the expensive half, runs once
    (opt guide §2.4: reuse the materialized intermediate)."""
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count("*").alias("n_bands"))
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_k: int = 3,
    fast: bool = False,
) -> DataFrame:
    """LSH-banding candidate pairs: (id_a, id_b, n_bands) with id_a < id_b.

    Signature split into ``bands`` bands of r = H/bands rows; docs agreeing on
    a whole band collide. The self-join is keyed on (band_idx, band_hash) —
    only docs in the same bucket ever meet, so at 100 TB the plan is
    shuffle-on-bucket-key + within-bucket pairing, never N².
    """
    buckets = minhash_bucket_table(
        docs, id_col, text_col, num_hashes, bands, shingle_k, fast=fast
    )
    return lsh_pairs_from_buckets(buckets)


def minhash_lsh_pairs_incremental(
    new_docs: DataFrame,
    bucket_table: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_k: int = 3,
    fast: bool = False,
) -> DataFrame:
    """Incremental near-dup: candidate pairs (id_a < id_b) where at least one
    side is in ``new_docs``, against a PERSISTED bucket table — the
    production flow (a 100 TB corpus is deduped once; daily batches must
    not reprocess it).

    Only the new batch is shingled/hashed; the join probes the existing
    bucket table (partition-pruned when it is stored partitioned by band).
    New×new pairs surface from the union side, normalized via
    least/greatest + per-(pair,band) dedup so each collision counts once —
    identical pair set to a from-scratch :func:`minhash_lsh_pairs` run
    restricted to pairs touching the batch.

    ``fast`` MUST match the flag the persisted ``bucket_table`` was built
    with: md5-keyed and xxhash64-keyed band keys never collide, so a
    mismatched probe silently finds zero cross-batch pairs. The SAME
    failure mode applies across fast-hash VERSIONS: probing a table built
    under a different :data:`FAST_HASH_VERSION` (the round-4 sign-mask
    change moved ~half of all xxhash64-derived values) silently finds
    nothing. Both mismatches now raise instead of returning nothing: a
    fast table carries a persisted ``fhv`` stamp column (one first()-row
    read to check — bucket tables are single-version by construction), a
    portable table carries none, and any flag/version disagreement is a
    ``ValueError``.
    """
    has_stamp = "fhv" in bucket_table.columns
    if fast:
        if not has_stamp:
            raise ValueError(
                "bucket_table has no fhv stamp column: it was built with "
                "fast=False (md5 band keys) or under a pre-stamp "
                "FAST_HASH_VERSION; probing it with fast=True xxhash64 keys "
                "would silently find zero cross-batch pairs — rebuild the "
                "table with the current minhash_bucket_table(fast=True)"
            )
        row = bucket_table.select("fhv").first()
        if row is not None and row["fhv"] != FAST_HASH_VERSION:
            raise ValueError(
                f"bucket_table was persisted under FAST_HASH_VERSION="
                f"{row['fhv']} but this build is {FAST_HASH_VERSION}; the "
                "xxhash64-derived band keys are incompatible across versions "
                "(a cross-version probe silently finds nothing) — rebuild "
                "the persisted table"
            )
    elif has_stamp:
        raise ValueError(
            "bucket_table carries an fhv stamp (built with fast=True) but "
            "the probe is fast=False: md5 and xxhash64 band keys never "
            "collide, so this probe would silently find zero cross-batch "
            "pairs — pass fast=True or rebuild the table with fast=False"
        )
    nb = minhash_bucket_table(
        new_docs, id_col, text_col, num_hashes, bands, shingle_k, fast=fast
    )
    key_cols = ["doc_id", "band", "bkey"]
    # The batch's bucket table feeds BOTH sides of the probe join (the
    # probe side, and the union that surfaces new×new pairs) through two
    # DIFFERENT exchanges, so nothing reuses it at runtime and the
    # shingle→minhash front end — the expensive half — ran twice.
    # Materialize it once: batch-sized (bands rows per doc, 3 short
    # columns), exactly the artifact a production flow persists anyway
    # (opt guide §2.4).
    nb = materialize(nb.select(key_cols), "checkpoint").df
    all_b = bucket_table.select(key_cols).unionByName(nb)
    a, b = nb.alias("a"), all_b.alias("b")
    cand = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bkey") == F.col("b.bkey"))
        & (F.col("a.doc_id") != F.col("b.doc_id")),
    ).select(
        F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("id_a"),
        F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("id_b"),
    )
    return cand.distinct()


def simhash_values(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
) -> DataFrame:
    """(doc_id, simhash) — bit j set iff Σ_tokens (±1 by bit j of token hash) > 0.

    Token multiset (not set) — classic SimHash weights by term frequency.
    One explode + one groupBy; the 32 per-bit sums are map-side combined.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokenize(F.col(text_col))).alias("token"),
    ).select("doc_id", H.stable_hash60(F.col("token")).alias("th"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("th"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s_{j}")
        for j in range(bits)
    ]
    sums = toks.groupBy("doc_id").agg(*bit_sums)
    sim = None
    for j in range(bits):
        term = F.when(F.col(f"s_{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return sums.select("doc_id", sim.cast("long").alias("simhash"))


def simhash_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bits: int = 32,
) -> DataFrame:
    """(id_a, id_b, hamming) pairs with hamming(simhash) <= max_hamming.

    Pigeonhole blocking: split the fingerprint into max_hamming+1 blocks; any
    qualifying pair matches exactly on ≥1 block → equi-join per block, union,
    distinct, exact hamming filter. No crossJoin at any scale.
    """
    sv = simhash_values(docs, id_col, text_col, bits)
    nblocks = max_hamming + 1
    width = bits // nblocks
    # Single pass + explode (see minhash_lsh_pairs): a per-block union would
    # recompute the token→simhash aggregation nblocks times.
    block_structs = []
    for blk in range(nblocks):
        shift = blk * width
        w = width if blk < nblocks - 1 else bits - shift
        mask = (1 << w) - 1
        block = F.shiftright(F.col("simhash"), shift).bitwiseAND(F.lit(mask))
        block_structs.append(F.struct(F.lit(blk).alias("blk"), block.alias("bval")))
    blocks = sv.select(
        "doc_id", "simhash", F.explode(F.array(*block_structs)).alias("bb")
    ).select("doc_id", "simhash", F.col("bb.blk").alias("blk"), F.col("bb.bval").alias("bval"))
    a, b = blocks.alias("a"), blocks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
    )
    return cand.filter(F.col("hamming") <= max_hamming)


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    threshold: float = 0.8,
    fast: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard pairs ≥ threshold via inverted shingle index.

    jaccard = |A∩B| / (|A|+|B|−|A∩B|). The equi-join on shingle hash means
    only docs sharing ≥1 shingle are ever paired. Set sizes are computed
    per-row from the distinct-shingle array (no shuffle). ``fast=True``
    swaps MD5 shingle hashing for xxhash64 (see doc_shingle_hashes) —
    exact Jaccard either way up to 60-bit/64-bit hash-collision odds.

    The explicit ``repartition(sh)`` before the self-join is the key cost
    control: without an Exchange node the planner broadcasts one leg, and a
    broadcast build has nothing to reuse — the tokenize→shingle→md5
    pipeline (≈90% of query cost) runs once per leg. Shuffling on the join
    key instead lets the two identical legs share ONE shuffle-stage
    computation (AQE stage reuse). MEASURED at sf0.1/local[32]: 2.6s vs
    4.0s broadcast-recompute.

    Other measured dead-ends (don't retry): carrying |A|,|B| on the
    exploded rows to skip the post-agg size joins was ~60% slower (wider
    per-shingle shuffle + 3-column partial agg); deriving sizes from the
    exchanged shingle table (groupBy doc_id) was ~0.3s slower than this
    per-row recompute (two extra 260k-row shuffles beat one codegen scan).
    """
    docs = fan_out_small_scan(docs)  # both legs below tokenize+shingle
    sh = doc_shingle_hashes(
        docs, id_col, text_col, shingle_k, fast=fast, fan_out=False
    ).repartition(F.col("sh"))
    sizes = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(F.array_distinct(shingles(tokenize(F.col(text_col)), shingle_k))).alias("sz"),
    ).filter(F.col("sz") > 0)
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("sz_b"))
    j = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
    )
    return j.filter(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")


def substring_dup_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Exact repeated-substring detection at token-window granularity (the
    signal behind suffix-array substring dedup, Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" — windowed
    rather than maximal-match, which keeps it one shuffle instead of a
    suffix-array sort).

    A ``width``-token window is a *dup span* when its 60-bit portable hash
    occurs in ≥ ``min_docs`` distinct documents. Output per doc:
    (doc_id, n_windows, n_dup_windows, dup_ratio) — feed ``dup_ratio`` into
    corpus curation as a contamination/boilerplate score.

    Plan: shingle windows stay attached to their doc (one codegen scan),
    explode → groupBy window-hash (short-key shuffle, map-side combine) for
    the dup set → left-semi join back on the hash (exchange reused) →
    per-doc count. The window totals come from the same scan's array length,
    no second pass over text. Nothing is quadratic in docs and no window
    string longer than ~width tokens ever shuffles (only its int64 hash).
    """
    sh = docs.select(
        F.col(id_col).alias("doc_id"),
        shingles(tokenize(F.col(text_col)), width).alias("shs"),
    )
    exploded = sh.select("doc_id", F.explode("shs").alias("s")).select(
        "doc_id", H.stable_hash60(F.col("s")).alias("h")
    )
    dup = (
        exploded.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("h")
    )
    dup_counts = (
        exploded.join(dup, "h", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_dup_windows"))
    )
    totals = sh.select("doc_id", F.size("shs").alias("n_windows"))
    return (
        totals.join(dup_counts, "doc_id", "left")
        .na.fill({"n_dup_windows": 0})
        .withColumn(
            "dup_ratio",
            F.when(
                F.col("n_windows") > 0,
                F.round(F.col("n_dup_windows") / F.col("n_windows"), 6),
            ).otherwise(F.lit(0.0)),
        )
    )


def remove_dup_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """APPLY exact-substring dedup: rewrite each document with every
    cross-doc duplicated ``width``-token window excised (the removal step of
    Lee et al. 2022 — :func:`substring_dup_spans` is the matching *detection*
    signal; this one actually edits the corpus).

    A token is removed when ANY dup window covers it (window ``wpos`` covers
    token positions ``wpos..wpos+width-1``), so overlapping dup windows merge
    into one excised span, exactly like the suffix-array formulation. Output
    per doc: (doc_id, n_tokens, n_removed, cleaned_hash) — the md5 of the
    space-joined surviving tokens keeps the result row narrow while staying
    position-sensitive for the oracle compare; callers wanting the cleaned
    text itself use the same plan minus the final hash.

    Plan (never quadratic, nothing longer than a window shuffles as text):
    dup-window set = one short-key hash shuffle with map-side combine;
    covered positions = semi-join on the hash + an in-row sequence explode,
    distinct on (doc_id, tpos); reassembly = left-anti join of the
    posexploded tokens against covered, then one (doc_id) groupBy whose
    sort_array puts tokens back in order inside the row. At 100 TB the
    heavy artifacts are (doc_id, int, int) tuples — text leaves the executor
    only as the final per-doc hash.
    """
    base = docs.select(
        F.col(id_col).alias("doc_id"), tokenize(F.col(text_col)).alias("toks")
    )
    win = (
        base.select(
            "doc_id", F.posexplode(shingles(F.col("toks"), width)).alias("wpos", "s")
        )
        .select("doc_id", "wpos", H.stable_hash60(F.col("s")).alias("h"))
    )
    dup = (
        win.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("h")
    )
    covered = (
        win.join(dup, "h", "left_semi")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("wpos"), F.col("wpos") + F.lit(width - 1))
            ).alias("tpos"),
        )
        .distinct()
    )
    tokex = base.select("doc_id", F.posexplode("toks").alias("tpos", "tk"))
    reasm = (
        tokex.join(covered, ["doc_id", "tpos"], "left_anti")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("tpos", "tk"))),
                    lambda e: e["tk"],
                ),
                " ",
            ).alias("cleaned"),
        )
    )
    totals = base.select("doc_id", F.size("toks").alias("n_tokens"))
    return totals.join(reasm, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0))).alias("n_removed"),
        F.md5(F.coalesce(F.col("cleaned"), F.lit(""))).alias("cleaned_hash"),
    )


def sentence_crossdoc_dups(
    sentences: DataFrame,
    id_col: str = "doc_id",
    sent_col: str = "sent",
    min_docs: int = 2,
) -> DataFrame:
    """(sent_hash, n_docs) — sentences appearing verbatim in ≥ ``min_docs``
    documents: the cross-document boilerplate signal at sentence
    granularity (the unit most boilerplate removal operates on; the k-gram
    analog is :func:`substring_dup_spans`).

    Input is a segmented sentence table — (doc_id, sent) from
    :func:`~auto_vectordb_spark.operators.textstats.sentence_segments` or
    any custom segmenter. Per-doc distinct first (a sentence repeated
    WITHIN a doc counts once), then one short-key shuffle on sent_hash with
    map-side combine; sentences never ship as text, only md5+count.
    """
    ex = (
        sentences.select(
            F.col(id_col).alias("doc_id"), F.md5(F.col(sent_col)).alias("sent_hash")
        )
        .distinct()
    )
    return (
        ex.groupBy("sent_hash")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )


def remove_dup_sentences(
    sentences: DataFrame,
    id_col: str = "doc_id",
    idx_col: str = "sent_idx",
    sent_col: str = "sent",
    min_docs: int = 2,
    joiner: str = " ",
) -> DataFrame:
    """APPLY sentence-level boilerplate removal: excise every sentence that
    appears verbatim in ≥ ``min_docs`` docs, reassemble the survivors in
    document order — the sentence-granularity analog of
    :func:`remove_dup_spans`.

    Input: a segmented sentence table (doc_id, sent_idx, sent) — see
    :func:`sentence_crossdoc_dups`. Output per doc: (doc_id, n_sents,
    n_removed, cleaned_text) with ``cleaned_text = ''`` for fully-removed
    docs; callers wanting a narrow compare row hash the text (the
    dedup_sentence_removal parity entry does exactly that).

    Plan: boiler set = one short-key shuffle on sent_hash; removal = hash
    anti-join; reassembly = one (doc_id) groupBy whose sort_array restores
    sentence order inside the row — the corpus text never shuffles twice.
    """
    ex = sentences.select(
        F.col(id_col).alias("doc_id"),
        F.col(idx_col).alias("sent_idx"),
        F.col(sent_col).alias("sent"),
    )
    boiler = sentence_crossdoc_dups(ex, min_docs=min_docs).select("sent_hash")
    kept = ex.join(boiler, F.md5(ex["sent"]) == boiler["sent_hash"], "left_anti")
    reasm = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sent_idx", "sent"))),
                lambda x: x["sent"],
            ),
            joiner,
        ).alias("cleaned"),
    )
    totals = ex.groupBy("doc_id").agg(F.count("*").alias("n_sents"))
    return totals.join(reasm, "doc_id", "left").select(
        "doc_id",
        F.col("n_sents").cast("int").alias("n_sents"),
        (F.col("n_sents") - F.coalesce(F.col("n_kept"), F.lit(0)))
        .cast("int")
        .alias("n_removed"),
        F.coalesce(F.col("cleaned"), F.lit("")).alias("cleaned_text"),
    )


def semdedup_pairs(
    vectors: DataFrame,
    cells: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cluster_id",
    round_decimals: int = 6,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication"): semantic near-dup pairs
    confined to coarse-cluster cells.

    The paper's recipe — k-means the corpus, then compare pairwise ONLY
    within each cluster — makes exact cosine dedup tractable at web scale:
    the quadratic term is bounded per cell (sum of c_i^2, not N^2), and the
    self-join is an equi-join on the cell id so Spark shuffles each vector
    once to its cell. ``cells`` is any (id, cell) assignment — the
    operators/cluster.py coarse quantizer, IVF cells, or k-means output —
    so cell granularity is the recall/cost knob exactly like nprobe.

    Emits (cell, id_a, id_b, cosine) for id_a < id_b with cosine >= threshold;
    feed to :func:`connected_components` / :func:`apply_dedup` to realize
    keep-one-per-group.
    """
    v = vectors.select(F.col(id_col), F.col(vec_col)).join(
        cells.select(F.col(id_col), F.col(cell_col).alias("__cell")), id_col
    )
    a = v.select(
        "__cell",
        F.col(id_col).alias("id_a"),
        V.as_double_array(F.col(vec_col)).alias("__va"),
        V.norm(F.col(vec_col)).alias("__na"),
    )
    b = v.select(
        "__cell",
        F.col(id_col).alias("id_b"),
        V.as_double_array(F.col(vec_col)).alias("__vb"),
        V.norm(F.col(vec_col)).alias("__nb"),
    )
    cos = V.cosine_with_norms(
        F.col("__va"), F.col("__vb"), F.col("__na"), F.col("__nb")
    )
    return (
        a.join(b, "__cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.round(cos, round_decimals))
        .filter(F.col("cosine") >= threshold)
        .select(F.col("__cell").alias("cell"), "id_a", "id_b", "cosine")
    )


def embedding_neardup_pairs(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Cosine near-dup pairs ≥ threshold (exact all-pairs).

    Correctness-oracle path. At 100 TB use minhash/LSH bucketing first (or
    :func:`ivf_build` buckets) and run this within buckets; the exact kernel
    below is the same either way.
    """
    # Precompute the double cast + norm once per vector (N rows), so the
    # O(N²) pair stage evaluates a single dot product per pair.
    prepped = vectors.select(
        F.col(id_col).alias("vid"),
        V.as_double_array(F.col(vec_col)).alias("v"),
        V.norm(F.col(vec_col)).alias("nrm"),
    )
    a = prepped.select(
        F.col("vid").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    b = prepped.select(
        F.col("vid").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    pairs = a.join(b, F.col("id_a") < F.col("id_b")).withColumn(
        "cosine",
        V.cosine_with_norms(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")),
    )
    return pairs.filter(F.col("cosine") >= threshold).select("id_a", "id_b", "cosine")


def _auto_num_tables(threshold: float, bits_per_table: int, recall_target: float) -> int:
    """Smallest T with 1-(1-p^b)^T >= recall_target at the threshold boundary,
    where p = 1 - acos(threshold)/pi (sign-LSH bit-agreement probability)."""
    import math

    p_bit = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    p_tbl = p_bit**bits_per_table
    return max(1, math.ceil(math.log(1.0 - recall_target) / math.log(1.0 - p_tbl)))


def embedding_neardup_pairs_blas(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    max_collect_rows: int = 100_000,
) -> DataFrame:
    """BLAS-kernel variant of :func:`embedding_neardup_pairs` (throughput path).

    The full normalized matrix is broadcast (fits executor memory for the
    within-bucket sizes this is meant for); each partition computes
    ``block @ M.T`` and emits only pairs ≥ threshold with id_a < id_b.
    Last-ulp cosine differences vs the expression kernel are possible (BLAS
    reduction order).

    SIZE-GUARDED: this form collects the corpus to the driver, which is only
    legitimate for an already-bucketed slice. Above ``max_collect_rows`` it
    fails fast — use :func:`embedding_neardup_pairs_blas_bucketed`, which
    composes the same kernel with sign-LSH bucketing and never collects.
    """
    import numpy as np
    import pyarrow as pa

    rows = (
        vectors.select(id_col, vec_col)
        .where(F.col(id_col).isNotNull())
        .limit(max_collect_rows + 1)
        .toArrow()
    )
    if rows.num_rows > max_collect_rows:
        raise ValueError(
            f"embedding_neardup_pairs_blas collects the corpus to the driver "
            f"and got > {max_collect_rows} rows; use "
            f"embedding_neardup_pairs_blas_bucketed for unbucketed corpora"
        )
    # row-fails-not-job: NULL / zero-length / ragged / non-finite vectors
    # drop (modal dim of the collected valid rows defines the working
    # dimensionality); an empty or all-invalid slice returns the
    # schema-correct empty frame
    out_schema = "id_a long, id_b long, cosine double"
    mask, M = CV.decode(rows.column(vec_col))
    if M is None:
        return vectors.sparkSession.createDataFrame([], out_schema)
    ids = rows.column(id_col).to_numpy()[mask].astype(np.int64)
    Mn = M / V.safe_row_norms(M)
    # (ids, Mn) ride the pickled kernel closure: PySpark ships large task
    # commands via its own managed TorrentBroadcast, reclaimed with the
    # plan by the ContextCleaner — an explicit sc.broadcast handle here
    # could never be destroy()ed without breaking lazy execution and
    # leaked across bench repeats.

    def part(batches):
        ids_b, Mn_b = ids, Mn
        for batch in batches:
            mask, C = CV.decode(batch.column(vec_col), Mn_b.shape[1])
            if C is None:
                continue
            Cn = C / V.safe_row_norms(C)
            S = Cn @ Mn_b.T  # (block, N)
            bids = batch.column(id_col).to_numpy()[mask].astype(np.int64)
            bi, mj = np.nonzero(S >= threshold)
            keep = bids[bi] < ids_b[mj]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(bids[bi][keep]),
                    pa.array(ids_b[mj][keep]),
                    pa.array(S[bi, mj][keep]),
                ],
                names=["id_a", "id_b", "cosine"],
            )

    # The JVM-side NULL-id filter is the only place NULL ids drop: the
    # kernel reads the id column as plain int64
    return (
        vectors.select(id_col, vec_col)
        .where(F.col(id_col).isNotNull())
        .mapInArrow(part, schema=out_schema)
    )


def _sign_lsh_cells(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    num_tables: int,
    bits_per_table: int,
    seed: int,
) -> DataFrame | None:
    """(vid, tbl, bucket, vec): each valid vector's sign-LSH bucket in
    each of ``num_tables`` tables, from one ``mapInArrow`` scan — a matmul
    against the tiny plane matrix (T·B × d, seeded by ``seed``, riding the
    kernel closure; see embedding_neardup_pairs_blas for the
    broadcast-lifecycle note) — with the vector column re-emitted by
    ``pc.take`` for the per-cell kernel. ``None`` on an empty or
    all-invalid corpus: the modal-dim probe over a bounded valid-row
    sample finds no dimensionality to draw planes for, and a ragged
    minority row can't hijack it."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    dim = CV.probe_dim(vectors, vec_col)
    if dim is None:
        return None
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((num_tables * bits_per_table, dim))
    weights = np.power(2, np.arange(bits_per_table), dtype=np.int64)
    vec_type = vectors.schema[vec_col].dataType.simpleString()
    schema = f"vid long, tbl int, bucket long, vec {vec_type}"

    def assign(batches):
        P = planes
        for batch in batches:
            # row-fails-not-job: NULL/ragged/non-finite vectors drop here
            vec = batch.column(vec_col)
            mask, M = CV.decode(vec, dim)
            if M is None:
                continue
            rows = np.flatnonzero(mask)
            n = len(rows)
            signs = (M @ P.T) > 0  # (rows, T*B), table t in bits t*B..(t+1)*B
            buckets = (
                signs.reshape(n, num_tables, bits_per_table).astype(np.int64) @ weights
            )  # (rows, T)
            vids = batch.column(id_col).to_numpy()[rows].astype(np.int64)
            # table-major: row r of table t sits at t*n + r
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.tile(vids, num_tables)),
                    pa.array(np.repeat(np.arange(num_tables, dtype=np.int32), n)),
                    pa.array(buckets.T.ravel()),
                    pc.take(vec, pa.array(np.tile(rows, num_tables))),
                ],
                names=["vid", "tbl", "bucket", "vec"],
            )

    # The JVM-side NULL-id filter is the only place NULL ids drop: the
    # kernel reads the id column as plain int64
    return (
        vectors.select(id_col, vec_col)
        .where(F.col(id_col).isNotNull())
        .mapInArrow(assign, schema=schema)
    )


def embedding_neardup_pairs_blas_bucketed(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    num_tables: int | None = None,
    bits_per_table: int = 8,
    recall_target: float = 0.95,
    seed: int = 42,
) -> DataFrame:
    """The 100 TB shape of the BLAS near-dup kernel: sign-LSH bucket
    assignment → per-bucket all-pairs BLAS matmul → max-merge across tables.

    Nothing is ever collected to the driver and the corpus never meets
    itself outside a bucket:

    1. one ``mapInArrow`` scan assigns each vector to ``num_tables``
       (table, bucket) cells — a matmul against the tiny broadcast plane
       matrix — carrying the vector along (shuffle volume = T × corpus,
       the honest cost of multi-table LSH grouping);
    2. ``repartition(tbl, bucket).sortWithinPartitions(tbl, bucket)``
       lays each cell out as one contiguous run, and ONE ``mapInArrow``
       call per partition walks the sorted stream: every batch is decoded
       and row-normalized once, each complete cell of ≥ 2 rows gets the
       exact all-pairs ``Mn @ Mn.T``, and the last cell of a batch is
       carried into the next one, since it may continue there. A task
       holds at most one cell plus one Arrow batch — the memory bound of a
       per-cell ``applyInArrow``, without one Python call per cell (the
       cell size is the ``bits_per_table`` knob: b bits → 2^b
       buckets/table; raise b to shrink task memory);
    3. pairs colliding in several tables are merged with ``max(cosine)``
       (BLAS reduction order may differ at last ulp between cells).

    The cells are random-hyperplane (SimHash-for-vectors) LSH: two
    vectors at angle θ agree on one bit with probability 1 − θ/π, so a
    near-dup pair shares a cell in ≥ 1 table with high probability.
    Recall vs the exact kernel ≥ ``recall_target`` by the table-count bound
    (``num_tables`` defaults to :func:`_auto_num_tables`); precision is
    exact: every emitted pair's cosine was computed from the full vectors
    and thresholded. For loose thresholds (< ~0.7) lower
    ``bits_per_table`` (p^b collapses), e.g. b=3; the default b=8 targets
    real near-dup thresholds (≥ 0.9). Gated in tests/test_dedup.py, which
    also pins the streaming kernel to a per-cell ``applyInArrow`` twin.

    A future perf idea, measured by no workload yet: shuffle only the
    (vid, tbl, bucket) keys and join the vectors once per cell partition,
    instead of shuffling T copies of every vector.
    """
    import numpy as np
    import pyarrow as pa

    if num_tables is None:
        num_tables = _auto_num_tables(threshold, bits_per_table, recall_target)
    assigned = _sign_lsh_cells(vectors, id_col, vec_col, num_tables, bits_per_table, seed)
    out_schema = "id_a long, id_b long, cosine double"
    if assigned is None:
        return vectors.sparkSession.createDataFrame([], out_schema)

    arrow_schema = pa.schema(
        [("id_a", pa.int64()), ("id_b", pa.int64()), ("cosine", pa.float64())]
    )

    def pairs(cells):
        # exact all-pairs per cell; a 1-row cell has no pair
        out = []
        for ids, Mn in cells:
            if len(ids) > 1:
                S = Mn @ Mn.T
                i, j = np.nonzero(S >= threshold)
                keep = ids[i] < ids[j]
                out.append((ids[i][keep], ids[j][keep], S[i, j][keep]))
        cols = [np.concatenate(c) for c in zip(*out)] if out else [[], [], []]
        return pa.record_batch(cols, schema=arrow_schema)

    def kernel(batches):
        # (cell key, ids, normalized rows) of the cell that ended the
        # previous batch and may continue in this one
        key = ids = Mn = None
        for batch in batches:
            # every vector passed the assign pass's decode: the mask keeps all
            mask, M = CV.decode(batch.column("vec"))
            if M is None:
                continue
            k = batch.column("tbl").to_numpy().astype(np.int64) << bits_per_table
            k = (k | batch.column("bucket").to_numpy())[mask]
            v = batch.column("vid").to_numpy()[mask]
            Mb = M / V.safe_row_norms(M)
            if key is not None:
                k, v, Mb = np.r_[key, k], np.r_[ids, v], np.vstack([Mn, Mb])
            bounds = np.r_[np.flatnonzero(np.r_[True, k[1:] != k[:-1]]), len(k)]
            last = bounds[-2]
            key, ids, Mn = k[last:], v[last:], Mb[last:]
            yield pairs((v[s:e], Mb[s:e]) for s, e in zip(bounds[:-2], bounds[1:-1]))
        if key is not None:
            yield pairs([(ids, Mn)])

    per_cell = (
        assigned.repartition("tbl", "bucket")
        .sortWithinPartitions("tbl", "bucket")
        .mapInArrow(kernel, schema=out_schema)
    )
    return per_cell.groupBy("id_a", "id_b").agg(F.max("cosine").alias("cosine"))


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iterations: int = 20,
    driver_threshold: int = 200_000,
) -> DataFrame:
    """(doc_id, component_id) over the near-dup pair graph — min-label
    propagation, the iterative step that turns pairwise matches into
    KEEP-ONE-PER-CLUSTER decisions (pairs alone over-delete: a~b, b~c must
    collapse to ONE cluster {a,b,c}).

    ADAPTIVE execution: the pair graph after LSH blocking is typically
    minuscule relative to the corpus (dup pairs, not documents). When it
    fits comfortably on the driver (≤ ``driver_threshold`` edges) a local
    union-find resolves it in one pass — no per-iteration shuffle, no
    checkpoint churn. Above the threshold, distributed min-label
    propagation: one shuffle per round, converging in O(component
    diameter) rounds, ``localCheckpoint`` truncating lineage. Both paths
    produce identical min-id labels. (This is the sanctioned use of
    collect: a size-gated final-stage fold over an already-reduced
    result, not a driver loop over corpus data.) The driver path returns
    its labels as an Arrow-backed ``LocalRelation`` of known size, so a
    join against it (:func:`apply_dedup`'s anti-join) broadcasts it
    rather than shuffling the other side.
    """
    import pyarrow as pa

    # ONE guarded collect decides the path AND feeds the fast one — a
    # count() probe would recompute the (expensive, uncached) pair
    # lineage twice; limit(T+1) caps driver memory identically.
    probe = pairs.select(
        F.col(a_col).alias("a").cast("long"), F.col(b_col).alias("b").cast("long")
    ).limit(driver_threshold + 1).collect()
    if len(probe) <= driver_threshold:
        rows = probe
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in rows:
            a, b = r["a"], r["b"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # a Python list would scan as an RDD of unknown size, which no
        # join broadcasts
        return pairs.sparkSession.createDataFrame(
            pa.table(
                {
                    "doc_id": pa.array(list(parent), pa.int64()),
                    "component_id": pa.array([find(n) for n in parent], pa.int64()),
                }
            )
        )
    with materialize(
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionAll(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct(),
        "memory",
    ) as edges:
        labels = edges.select(F.col("src").alias("node")).distinct().withColumn(
            "label", F.col("node")
        )
        # Convergence via Σlabel: min-label propagation only ever DECREASES
        # labels, so an unchanged sum ⇔ a fixed point — one scan-agg on the
        # (checkpointed, tiny) label table instead of a join-and-count per round.
        prev_sum = None
        pin = None
        for _ in range(max_iterations):
            prop = (
                edges.join(labels, edges["src"] == labels["node"])
                .select(F.col("dst").alias("node"), "label")
            )
            prev, pin = pin, materialize(
                labels.unionAll(prop).groupBy("node").agg(F.min("label").alias("label")),
                "checkpoint",
            )
            if prev is not None:
                prev.release()
            labels = pin.df
            cur_sum = labels.agg(F.sum("label")).collect()[0][0]
            if cur_sum == prev_sum:
                break
            prev_sum = cur_sum
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("component_id"))


def apply_dedup(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Drop every doc that is in a near-dup component but not its keeper
    (min id). The end-to-end 'dedup the corpus' operation: pairs →
    components → anti-join. Docs in no pair survive untouched.

    On the driver path of :func:`connected_components` the losers are a
    small ``LocalRelation``, so the anti-join is a ``BroadcastHashJoin``
    and the docs (text included) are never shuffled; the output keeps the
    docs' own partitioning."""
    comps = connected_components(pairs)
    losers = comps.filter(F.col("doc_id") != F.col("component_id")).select("doc_id")
    return docs.join(
        losers.withColumnRenamed("doc_id", id_col), on=id_col, how="left_anti"
    )


def apply_dedup_keep_best(
    docs: DataFrame,
    pairs: DataFrame,
    quality: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "quality",
) -> DataFrame:
    """Quality-aware canonical selection: per near-dup component keep the
    HIGHEST-quality doc (tie-break lowest id) instead of blindly the min id
    — the curation-grade variant of :func:`apply_dedup` (a crawl's canonical
    page is rarely the one with the smallest id; it is the cleanest copy).

    ``quality``: any (id, score) DataFrame — typically
    ``textstats.quality_score`` output. It must cover every id appearing in
    ``pairs``: the component⋈quality join is inner, so a component whose
    members all lack quality rows would elect no winner and lose every
    member. Docs in no pair survive untouched.

    Same shuffle budget as :func:`apply_dedup` plus one short join of the
    component table (dup docs only, tiny vs corpus) against the quality
    table; the per-component argmax is a windowed top-1 on the component
    key — never touches the corpus.
    """
    from .relational import top_k_per_group

    comps = connected_components(pairs).withColumnRenamed("doc_id", id_col)
    scored = comps.join(quality.select(id_col, quality_col), id_col)
    winners = top_k_per_group(
        scored, ["component_id"], quality_col, 1, tie_break=id_col
    ).select(id_col)
    losers = comps.select(id_col).join(winners, id_col, "left_anti")
    return docs.join(losers, id_col, "left_anti")


def decontaminate_flags(
    docs: DataFrame,
    eval_docs: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: flag corpus docs sharing any word k-gram
    with an evaluation set (the standard guard against test-set leakage in
    training corpora; production uses k≈13 on much longer docs — k is a
    parameter).

    Returns (id_col, n_shared) for every contaminated doc; drop them with
    ``docs.join(flags, id_col, "left_anti")``.

    Scale shape: corpus shingles pay ONE (id, shingle) distinct shuffle
    (map-side combined); the eval side is tiny by construction (benchmarks
    are ~10³-10⁵ rows) → broadcast semi-style join, the corpus is never
    re-shuffled on the eval key.
    """
    from ..functions.text import shingles, tokenize

    def sh(df):
        return df.select(
            F.col(id_col), F.explode(shingles(tokenize(F.col(text_col)), k)).alias("sh")
        ).distinct()

    eval_sh = F.broadcast(sh(eval_docs).select("sh").distinct())
    return (
        sh(docs)
        .join(eval_sh, "sh")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_shared"))
    )


def source_shingle_overlap(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    shingle_k: int = 3,
) -> DataFrame:
    """(source_a, source_b, n_shared, sz_a, sz_b, jaccard) for every source
    pair — content-overlap matrix between corpus sources (which feeds
    mirror/scrape double-counting into the training mix), computed on
    distinct shingle sets per source.

    The set sizes travel as exact int64 and jaccard is the UNROUNDED
    division n_shared/(sz_a+sz_b-n_shared): identical int inputs through
    one exactly-rounded IEEE divide is bit-identical in every engine,
    whereas round(·, 6) of these rationals sat exactly ON 6-decimal
    boundaries at sf0.01 (dyadic ties — margin-audit finding, the
    rounding-mode flip hazard).

    Scale shape: the corpus reduces ONCE to the distinct (source, shingle)
    table — one shuffle, map-side combined; the pair counts come from a
    self-equi-join on the shingle hash. The join fan-out is bounded by
    S² per shingle (S = #sources), never corpus N² — with hundreds of
    sources this is the standard inverted-index overlap plan; per-source
    set sizes ride along from a tiny groupBy broadcast back.
    """
    sh = (
        docs.select(
            F.col(source_col).alias("source"),
            F.explode(
                F.array_distinct(shingles(tokenize(F.col(text_col)), shingle_k))
            ).alias("shingle"),
        )
        .select("source", H.stable_hash60(F.col("shingle")).alias("sh"))
        .distinct()
    )
    sizes = sh.groupBy("source").agg(F.count("*").alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b"))
        .agg(F.count("*").alias("n_shared"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            "sz_a",
            "sz_b",
            (
                F.col("n_shared")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_shared"))
            ).alias("jaccard"),
        )
    )


def ngram_novelty(
    docs: DataFrame,
    ref_docs: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_shingles, n_unseen, novelty) — per-doc fraction of
    distinct word k-shingles NOT present anywhere in a reference corpus.

    The inverse of :func:`decontaminate_flags`: decontamination asks "does
    this doc overlap the eval set at all", novelty asks "how much of this
    doc is new against what we already trained on" — the incremental-crawl
    admission signal (near-zero novelty = re-crawl/boilerplate, admit
    high-novelty docs first). Docs shorter than one shingle are absent
    from the output (novelty of an empty set is undefined).

    ``novelty = n_unseen / n_shingles`` stays an UNROUNDED int/int division
    (bit-exact cross-engine, parity doctrine). Both sides shingle through
    the portable 60-bit MD5 hash (:func:`doc_shingle_hashes`) so engine and
    oracle see identical collision behavior.

    Scale shape: the reference side reduces once to a distinct shingle-hash
    table (map-side combined); the probe is a left-anti equi-join on the
    hash — both sides shuffle on the same key, no broadcast assumption (the
    reference corpus is the BIG side here, unlike decontamination's tiny
    eval side).
    """
    new_sh = doc_shingle_hashes(docs, id_col, text_col, k)
    ref_sh = doc_shingle_hashes(ref_docs, id_col, text_col, k).select("sh").distinct()
    sizes = new_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    unseen = (
        new_sh.join(ref_sh, "sh", "left_anti")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_unseen"))
    )
    return (
        sizes.join(unseen, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce(F.col("n_unseen"), F.lit(0)).alias("n_unseen"),
            (
                F.coalesce(F.col("n_unseen"), F.lit(0)).cast("double")
                / F.col("n_shingles").cast("double")
            ).alias("novelty"),
        )
    )


def ngram_containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    threshold: float = 0.9,
) -> DataFrame:
    """(id_a, id_b, inter, sz_a, sz_b, containment) — max-containment pairs:
    containment = |A∩B| / min(|A|, |B|) over distinct word k-shingle sets.

    Jaccard misses subset duplication (a quote, a doc embedded inside a
    longer page scores low Jaccard but containment ≈ 1) — this is the
    asymmetric companion the suffix/substring family approximates at the
    character level. Same inverted-shingle-index plan as
    :func:`ngram_jaccard_pairs` (only docs sharing ≥1 shingle pair up; the
    repartition-on-hash lets AQE reuse one shingle-pipeline computation for
    both self-join legs), with the UNROUNDED int/int containment division
    (bit-exact cross-engine — see source_shingle_overlap for why not
    round(·, 6)).
    """
    docs = fan_out_small_scan(docs)
    sh = doc_shingle_hashes(
        docs, id_col, text_col, shingle_k, fan_out=False
    ).repartition(F.col("sh"))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("sz_b"))
    j = inter.join(sa, "id_a").join(sb, "id_b").withColumn(
        "containment",
        F.col("inter").cast("double") / F.least("sz_a", "sz_b").cast("double"),
    )
    return j.filter(F.col("containment") >= threshold).select(
        "id_a", "id_b", "inter", "sz_a", "sz_b", "containment"
    )


def prefix_blocked_levenshtein_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_chars: int = 16,
    probe_chars: int = 64,
    max_dist: int = 8,
) -> DataFrame:
    """(id_a, id_b, dist) — edit-distance near-dup pairs under prefix
    blocking: docs sharing their first ``block_chars`` lowercased characters
    are candidates; a pair survives if the Levenshtein distance of their
    first ``probe_chars`` characters is ≤ ``max_dist``.

    The record-linkage classic for title/lead dedup (typos, version
    suffixes, trailing boilerplate) that shingle Jaccard under-scores on
    short strings. Blocking gives the standard recall tradeoff: a pair
    differing inside its first ``block_chars`` characters is never
    compared — by design, deterministic and documented, like every
    LSH-band cut in this module.

    Engine boundary (pinned in tests/test_properties.py): Spark's
    levenshtein edits CODE POINTS while DuckDB's edits UTF-8 bytes — the
    definitions coincide exactly on single-byte text (the oracle fixtures
    are pure ASCII); on multibyte text this operator's Spark semantics
    (code points) are the intended ones.

    Scale shape: one equi-join on the block key (both sides shuffle on the
    same ≤``block_chars``-byte key, map-side combinable), then per-pair
    Levenshtein INSIDE the join's codegen — Spark's built-in levenshtein
    with a threshold argument banded-early-exits at max_dist+1. A corpus
    with a degenerate hot prefix (one boilerplate header) makes a
    quadratic block — mitigate upstream with boilerplate removal
    (remove_dup_sentences) or widen block_chars; the operator itself stays
    algebraic.
    """
    probe = F.lower(F.substring(F.col(text_col), 1, probe_chars))
    keyed = docs.select(
        F.col(id_col).alias("doc_id"),
        F.substring(probe, 1, block_chars).alias("blk"),
        probe.alias("probe"),
    ).repartition(F.col("blk"))
    a, b = keyed.alias("a"), keyed.alias("b")
    pairs = a.join(
        b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.doc_id") < F.col("b.doc_id"))
    ).select(
        F.col("a.doc_id").alias("id_a"),
        F.col("b.doc_id").alias("id_b"),
        # threshold arg: banded DP early-exits past max_dist (returns -1)
        F.levenshtein(F.col("a.probe"), F.col("b.probe"), max_dist).alias("dist"),
    )
    return pairs.filter((F.col("dist") >= 0) & (F.col("dist") <= max_dist))


def semantic_decontaminate_flags(
    corpus_vecs: DataFrame,
    eval_vecs: DataFrame,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, n_hits, max_cos) — corpus vectors whose embedding is within
    ``threshold`` cosine of ANY eval-set vector: the semantic companion to
    :func:`decontaminate_flags` (shingle overlap misses paraphrased eval
    leakage; embedding similarity catches it — the standard second gate in
    modern pretraining decontamination).

    Threshold comparison runs on the RAW double cosine (bit-exact
    cross-engine: identical float32-origin inputs through identical IEEE
    ops); only the reported max is display-rounded (continuous value —
    safe, see margin doctrine). ``n_hits`` = how many eval vectors matched
    (exact int).

    Scale shape: the eval side is tiny by construction → broadcast; the
    corpus is scanned in place with zero shuffle, then one corpus-id
    groupBy. At very large eval sets, swap the broadcast for the sign-LSH
    bucketed kernel (embedding_neardup_pairs_blas_bucketed) — same flag
    semantics.
    """
    e = F.broadcast(
        eval_vecs.select(
            V.as_double_array(F.col(vec_col)).alias("__ev"),
            V.norm(F.col(vec_col)).alias("__en"),
        )
    )
    c = corpus_vecs.select(
        F.col(id_col),
        V.as_double_array(F.col(vec_col)).alias("__cv"),
        V.norm(F.col(vec_col)).alias("__cn"),
    )
    cos = V.cosine_with_norms(F.col("__cv"), F.col("__ev"), F.col("__cn"), F.col("__en"))
    return (
        c.crossJoin(e)
        .withColumn("__cos", cos)
        .filter(F.col("__cos") >= threshold)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.round(F.max("__cos"), 6).alias("max_cos"),
        )
    )
