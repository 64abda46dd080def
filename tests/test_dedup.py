"""Dedup operators: exact, MinHash/LSH, SimHash, Jaccard, embedding cosine."""

import contextlib
import itertools

import pytest
from pyspark.sql import functions as F

from auto_vectordb_spark.operators import dedup as DD


@contextlib.contextmanager
def _arrow_batch_rows(spark, n):
    """Cap the Arrow batches the Python kernels see at ``n`` rows."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, None)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_exact_dedup(spark):
    docs = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")], ["doc_id", "text"]
    )
    out = {r["content_hash"]: (r["keep_id"], r["n_dups"]) for r in DD.exact_dedup(docs).collect()}
    assert len(out) == 2
    assert (1, 2) in out.values()  # keeps lowest id, counts 2


def test_minhash_estimates_jaccard(spark):
    """Signature agreement rate ≈ true shingle Jaccard (LSH property)."""
    a = "the quick brown fox jumps over the lazy dog again and again today"
    b = "the quick brown fox jumps over the lazy dog again and again tomorrow"
    c = "completely different words having nothing in common with either text"
    docs = spark.createDataFrame([(0, a), (1, b), (2, c)], ["doc_id", "text"])
    sig = {r["doc_id"]: [r[f"mh_{j}"] for j in range(16)] for r in DD.minhash_signatures(docs).collect()}
    agree_ab = sum(x == y for x, y in zip(sig[0], sig[1])) / 16
    agree_ac = sum(x == y for x, y in zip(sig[0], sig[2])) / 16
    assert agree_ab > 0.5  # true jaccard ≈ 0.83 on 3-shingles
    assert agree_ac == 0.0


@pytest.mark.parametrize("fast", [False, True])
def test_minhash_fold_matches_aggregate_form(spark, fast):
    """The per-batch Arrow fold of minhash_signatures equals the
    per-shingle aggregate form composed from library calls
    (doc_shingle_hashes + universal_hash + groupBy.min). With 4-row Arrow
    batches the 38-shingle docs straddle batches; doc 2 repeats across
    rows; the two NULL-id rows keep ONE NULL-key row; NULL text and text
    under k tokens have no shingle and no row."""
    import pyarrow as pa

    from auto_vectordb_spark.functions import hashing as H

    words = " ".join(f"w{i}" for i in range(40))
    rows = [
        (1, words),
        (2, "the quick brown fox jumps over the lazy dog"),
        (2, "a second row for doc two with more words"),
        (None, "null id text one two three four"),
        (None, "another null id row five six seven"),
        (3, None),
        (4, "too short"),
        (5, "Größe café naïve Ünïcödé 東京 タワー straße ÉCOLE déjà vu"),
        (6, words + " tail"),
    ]
    docs = spark.createDataFrame(
        pa.table(
            {
                "doc_id": pa.array([i for i, _ in rows], pa.int64()),
                "text": pa.array([t for _, t in rows], pa.string()),
            }
        )
    )
    twin = DD.doc_shingle_hashes(docs, fast=fast).groupBy("doc_id").agg(
        *[
            F.min(H.universal_hash(F.col("sh"), a, b)).alias(f"mh_{j}")
            for j, (a, b) in enumerate(H.minhash_params(DD.DEFAULT_NUM_HASHES))
        ]
    )
    with _arrow_batch_rows(spark, 4):
        got = DD.minhash_signatures(docs, fast=fast).collect()

    def by_id(r):
        return (r["doc_id"] is not None, r["doc_id"] or 0)

    assert [r["doc_id"] for r in sorted(got, key=by_id)] == [None, 1, 2, 5, 6]
    assert sorted(got, key=by_id) == sorted(twin.collect(), key=by_id)


def test_minhash_lsh_finds_near_dups(spark):
    # a/b differ in one word out of 30 → shingle-jaccard ≈ 0.93, so at
    # 16 hashes / 4 bands the collision probability is ≈ 99.6%; with the
    # fixed hash seeds the outcome is deterministic.
    base = " ".join(f"w{i}" for i in range(30))
    a = base
    b = base.rsplit(" ", 1)[0] + " zz"
    c = "one two three four five six seven eight nine ten"
    docs = spark.createDataFrame([(0, a), (1, b), (2, c)], ["doc_id", "text"])
    pairs = {(r["id_a"], r["id_b"]) for r in DD.minhash_lsh_pairs(docs).collect()}
    assert (0, 1) in pairs
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_simhash_pairs_vs_bruteforce(spark, sf_dir):
    """Pigeonhole blocking must find EXACTLY the pairs with hamming<=r."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(120)
    sv = {r["doc_id"]: r["simhash"] for r in DD.simhash_values(docs).collect()}
    brute = {
        (i, j)
        for i, j in itertools.combinations(sorted(sv), 2)
        if bin(sv[i] ^ sv[j]).count("1") <= 6
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in DD.simhash_pairs(docs, max_hamming=6).collect()
    }
    assert got == brute


def test_ngram_jaccard_exact_value(spark):
    # doc0 shingles: {a b c, b c d}; doc1: {a b c, b c e} → jaccard = 1/3
    docs = spark.createDataFrame([(0, "a b c d"), (1, "a b c e")], ["doc_id", "text"])
    out = DD.ngram_jaccard_pairs(docs, threshold=0.0).collect()
    assert len(out) == 1
    assert abs(out[0]["jaccard"] - 1 / 3) < 1e-12


def test_embedding_neardup_kernels_agree(spark, sf_dir):
    """BLAS kernel must produce the same pair set as the expression kernel."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {(r["id_a"], r["id_b"]) for r in DD.embedding_neardup_pairs(emb, threshold=0.3).collect()}
    blas = {(r["id_a"], r["id_b"]) for r in DD.embedding_neardup_pairs_blas(emb, threshold=0.3).collect()}
    assert exact == blas
    assert len(exact) > 0


def test_neardup_scores_match_between_kernels(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(100)
    e = DD.embedding_neardup_pairs(emb, threshold=0.2).withColumnRenamed("cosine", "c1")
    b = DD.embedding_neardup_pairs_blas(emb, threshold=0.2).withColumnRenamed("cosine", "c2")
    j = e.join(b, ["id_a", "id_b"])
    bad = j.filter(F.abs(F.col("c1") - F.col("c2")) > 1e-9).count()
    assert bad == 0


def test_blas_size_guard_fails_fast(spark, sf_dir):
    """The whole-corpus BLAS kernel is bucket-scoped only: above the collect
    guard it must refuse rather than pull the corpus to the driver."""
    import pytest

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with pytest.raises(ValueError, match="bucketed"):
        DD.embedding_neardup_pairs_blas(emb, threshold=0.3, max_collect_rows=10)


def test_blas_bucketed_recall_and_precision(spark, sf_dir):
    """Bucket-composed BLAS kernel: no false pairs (exact scoring within
    buckets), recall >= 0.85 vs the exact kernel, and cosines of common
    pairs agree to 1e-9."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = DD.embedding_neardup_pairs(emb, threshold=0.3)
    bucketed = DD.embedding_neardup_pairs_blas_bucketed(
        emb, threshold=0.3, bits_per_table=3
    )
    e = {(r["id_a"], r["id_b"]): r["cosine"] for r in exact.collect()}
    b = {(r["id_a"], r["id_b"]): r["cosine"] for r in bucketed.collect()}
    assert not (set(b) - set(e))  # precision 1: every emitted pair is real
    assert len(set(b) & set(e)) / len(e) >= 0.85
    assert all(abs(e[k] - b[k]) <= 1e-9 for k in set(b) & set(e))


def test_blas_bucketed_dirty_frame_subset_of_exact(spark):
    """Fast-tier twin of the bucketed kernel's gate on a hand-built dirty
    frame: NULL vector, ragged row, NaN element and NULL id all drop; every
    bucketed pair is an exact pair with the same cosine, and a 60-bit id
    above 2^53 survives the Arrow kernels exactly."""
    import math

    import pyarrow as pa

    big = (1 << 60) + 3
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.99, 0.1, 0.0, 0.0]),
        (big, [1.0, 0.01, 0.0, 0.0]),
        (4, [0.0, 1.0, 0.0, 0.0]),
        (5, [0.0, 1.0, 0.05, 0.0]),
        (9, [0.0, 0.0, 1.0, 0.0]),
        (6, None),
        (7, [1.0, 0.0, 0.0]),
        (8, [math.nan, 0.0, 0.0, 1.0]),
        (None, [1.0, 0.0, 0.0, 0.0]),
    ]
    # an Arrow table becomes a LocalTableScan; a list of tuples would scan
    # through a Python RDD on every job and blow the fast tier's 4 s cut
    emb = spark.createDataFrame(
        pa.table(
            {
                "vec_id": pa.array([i for i, _ in rows], pa.int64()),
                "embedding": pa.array([v for _, v in rows], pa.list_(pa.float64())),
            }
        )
    )
    exact = DD.embedding_neardup_pairs(emb, threshold=0.9)
    bucketed = DD.embedding_neardup_pairs_blas_bucketed(
        emb, threshold=0.9, bits_per_table=2
    )
    e = {(r["id_a"], r["id_b"]): r["cosine"] for r in exact.collect()}
    b = {(r["id_a"], r["id_b"]): r["cosine"] for r in bucketed.collect()}
    assert b and not (set(b) - set(e))
    assert all(abs(e[k] - b[k]) <= 1e-9 for k in b)
    assert (1, big) in b


def test_blas_bucketed_streaming_kernel_matches_per_cell_form(spark):
    """The streaming cell kernel of embedding_neardup_pairs_blas_bucketed
    gives the pair set of a per-cell applyInArrow form composed in the
    test, cosines within 1e-9, on a corpus whose cells outgrow the 16-row
    Arrow batches (so cells straddle batches and the carried tail is
    exercised) and outnumber the shuffle partitions (so partitions hold
    many cells)."""
    import numpy as np
    import pyarrow as pa

    from auto_vectordb_spark.functions import cleanvec as CV
    from auto_vectordb_spark.functions import vector as V

    rng = np.random.default_rng(5)
    centers = rng.standard_normal((20, 8))
    X = centers[rng.integers(0, 20, 300)] + 0.3 * rng.standard_normal((300, 8))
    emb = spark.createDataFrame(
        pa.table(
            {
                "vec_id": pa.array(np.arange(300) * 7 + 1, pa.int64()),
                "embedding": pa.array(list(X), pa.list_(pa.float64())),
            }
        )
    )
    threshold, tables, bits = 0.8, 4, 3
    assigned = DD._sign_lsh_cells(emb, "vec_id", "embedding", tables, bits, 42)

    def per_cell(table):
        mask, M = CV.decode(table.column("vec"))
        ids = table.column("vid").to_numpy()[mask]
        Mn = M / V.safe_row_norms(M)
        S = Mn @ Mn.T
        i, j = np.nonzero(S >= threshold)
        keep = ids[i] < ids[j]
        return pa.table(
            {"id_a": ids[i][keep], "id_b": ids[j][keep], "cosine": S[i, j][keep]}
        )

    twin = (
        assigned.groupBy("tbl", "bucket")
        .applyInArrow(per_cell, schema="id_a long, id_b long, cosine double")
        .groupBy("id_a", "id_b")
        .agg(F.max("cosine").alias("cosine"))
    )
    sizes = [r["count"] for r in assigned.groupBy("tbl", "bucket").count().collect()]
    assert max(sizes) > 16
    assert len(sizes) > int(spark.conf.get("spark.sql.shuffle.partitions"))
    with _arrow_batch_rows(spark, 16):
        got = {
            (r["id_a"], r["id_b"]): r["cosine"]
            for r in DD.embedding_neardup_pairs_blas_bucketed(
                emb, threshold=threshold, num_tables=tables, bits_per_table=bits
            ).collect()
        }
    want = {(r["id_a"], r["id_b"]): r["cosine"] for r in twin.collect()}
    assert got and set(got) == set(want)
    assert all(abs(got[k] - want[k]) <= 1e-9 for k in got)


def test_merge_upsert_latest_wins(spark):
    from auto_vectordb_spark.operators.relational import merge_upsert

    existing = spark.createDataFrame(
        [("a", 1, "old"), ("b", 5, "keep")], ["id", "updated_at", "val"]
    )
    updates = spark.createDataFrame(
        [("a", 3, "new"), ("b", 5, "tie-update-wins"), ("c", 1, "insert")],
        ["id", "updated_at", "val"],
    )
    out = {r["id"]: r["val"] for r in merge_upsert(existing, updates, "id").collect()}
    assert out == {"a": "new", "b": "tie-update-wins", "c": "insert"}


def test_salted_join_equals_plain_join(spark, sf_dir):
    from auto_vectordb_spark.operators.relational import salted_join

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").withColumnRenamed(
        "l_partkey", "p_partkey"
    )
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    cols = ["p_partkey", "l_orderkey", "l_linenumber", "p_brand", "p_size"]
    plain = li.join(part, "p_partkey").select(*cols)
    salted = salted_join(li, part, "p_partkey", salt_buckets=4).select(*cols)
    assert plain.count() == salted.count()
    assert plain.exceptAll(salted).count() == 0


def test_connected_components_transitive(spark):
    # a~b, b~c, and separately x~y: components {a,b,c} and {x,y}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"]
    )
    comps = {r["doc_id"]: r["component_id"] for r in DD.connected_components(pairs).collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_apply_dedup_keeps_one_per_cluster(spark):
    docs = spark.createDataFrame([(i, f"t{i}") for i in [1, 2, 3, 10, 11, 99]], ["doc_id", "text"])
    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"])
    kept = sorted(r["doc_id"] for r in DD.apply_dedup(docs, pairs).collect())
    assert kept == [1, 10, 99]  # cluster keepers + untouched singleton


def test_apply_dedup_broadcasts_driver_components(spark, sf_dir):
    """connected_components' driver path returns an Arrow-backed
    LocalRelation of known size, so apply_dedup's anti-join broadcasts the
    losers and never hash-shuffles the docs (text included)."""
    import pyarrow as pa

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = spark.createDataFrame(pa.table({"id_a": [1, 2, 10], "id_b": [2, 3, 11]}))
    out = DD.apply_dedup(docs, pairs)
    assert {2, 3, 11}.isdisjoint(r["doc_id"] for r in out.collect())
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final and "LeftAnti" in final
    assert "Exchange hashpartitioning" not in final


def test_incremental_pairs_match_full_run(spark, sf_dir):
    """Incremental (batch vs persisted bucket table) must produce EXACTLY the
    full-run pair set restricted to pairs touching the batch."""
    from pyspark.sql import functions as F

    from auto_vectordb_spark.operators import dedup as DD

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    split = 400
    existing = docs.filter(F.col("doc_id") < split)
    new = docs.filter(F.col("doc_id") >= split)
    bucket_table = DD.minhash_bucket_table(existing)
    inc = {
        (r["id_a"], r["id_b"])
        for r in DD.minhash_lsh_pairs_incremental(new, bucket_table).collect()
    }
    full = {
        (r["id_a"], r["id_b"])
        for r in DD.minhash_lsh_pairs(docs).collect()
        if r["id_a"] >= split or r["id_b"] >= split
    }
    assert inc == full and len(inc) > 0


def test_connected_components_paths_agree(spark):
    """Driver union-find (small graphs) and distributed propagation must
    produce identical min-id labels."""
    from auto_vectordb_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(5, 9), (9, 2), (7, 8), (10, 11), (11, 3)], ["id_a", "id_b"]
    )
    fast = {
        (r["doc_id"], r["component_id"])
        for r in connected_components(pairs).collect()
    }
    dist = {
        (r["doc_id"], r["component_id"])
        for r in connected_components(pairs, driver_threshold=0).collect()
    }
    assert fast == dist
    assert fast == {(5, 2), (9, 2), (2, 2), (7, 7), (8, 7), (10, 3), (11, 3), (3, 3)}


def test_decontaminate_flags_leaked_doc(spark):
    from auto_vectordb_spark.operators.dedup import decontaminate_flags

    corpus = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog"),
            (11, "completely unrelated text about spark shuffles"),
            (12, "short"),  # < 3 tokens -> no shingles, never flagged
        ],
        "doc_id long, text string",
    )
    eval_set = spark.createDataFrame(
        [(0, "we evaluate on the quick brown fox sentences")],
        "doc_id long, text string",
    )
    flags = decontaminate_flags(corpus, eval_set, k=3)
    got = {r["doc_id"]: r["n_shared"] for r in flags.collect()}
    assert got == {10: 2}  # 'the quick brown' + 'quick brown fox'
    clean = corpus.join(flags, "doc_id", "left_anti")
    assert sorted(r["doc_id"] for r in clean.collect()) == [11, 12]


def test_substring_dup_spans_flags_shared_windows(spark):
    shared = "alpha beta gamma delta epsilon zeta"
    docs = spark.createDataFrame(
        [
            (0, f"{shared} unique tail zero"),
            (1, f"other head one {shared}"),
            (2, "completely different words with no overlap at all here"),
            (3, "tiny"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in DD.substring_dup_spans(docs, width=5).collect()}
    # docs 0 and 1 share two 5-token windows of the 6-token shared run
    assert out[0]["n_dup_windows"] == 2 and out[1]["n_dup_windows"] == 2
    assert out[2]["n_dup_windows"] == 0
    assert out[3]["n_windows"] == 0 and out[3]["dup_ratio"] == 0.0
    assert out[0]["n_windows"] == 5  # 9 tokens -> 5 windows


def test_remove_dup_spans_excises_covered_tokens(spark):
    import hashlib

    shared = "alpha beta gamma delta epsilon zeta"  # 6 tokens, 2 dup windows
    docs = spark.createDataFrame(
        [
            (0, f"{shared} unique tail zero"),
            (1, f"other head one {shared}"),
            (2, "completely different words with no overlap at all here"),
            (3, "tiny"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in DD.remove_dup_spans(docs, width=5).collect()}
    # the two overlapping dup windows merge into ONE excised 6-token span
    assert out[0]["n_removed"] == 6 and out[1]["n_removed"] == 6
    assert out[0]["cleaned_hash"] == hashlib.md5(b"unique tail zero").hexdigest()
    assert out[1]["cleaned_hash"] == hashlib.md5(b"other head one").hexdigest()
    # untouched docs keep their exact token stream (incl. below-width docs)
    assert out[2]["n_removed"] == 0
    assert (
        out[2]["cleaned_hash"]
        == hashlib.md5(b"completely different words with no overlap at all here").hexdigest()
    )
    assert out[3]["n_removed"] == 0 and out[3]["n_tokens"] == 1


def test_source_shingle_overlap_values(spark):
    from auto_vectordb_spark.operators.dedup import source_shingle_overlap

    # A and B share the shingle "a b c"; A has 2 distinct shingles,
    # B has 1, C shares nothing
    df = spark.createDataFrame(
        [
            (1, "A", "a b c d"),     # shingles: "a b c", "b c d"
            (2, "B", "a b c"),       # shingles: "a b c"
            (3, "C", "x y z"),       # shingles: "x y z"
        ],
        ["doc_id", "source", "text"],
    )
    rows = {(r["source_a"], r["source_b"]): r for r in source_shingle_overlap(df).collect()}
    assert set(rows) == {("A", "B")}
    r = rows[("A", "B")]
    assert r["n_shared"] == 1
    assert abs(r["jaccard"] - 0.5) < 1e-9  # 1 / (2 + 1 - 1)


def test_minhash_fast_hash_path(spark, sf_dir):
    """fast=True (xxhash64 shingles) is the production hash knob: same
    MinHash estimator family, different sample. Gates: (a) exact-duplicate
    texts always collide (identical shingle sets -> identical signatures
    under ANY hash); (b) deterministic across runs; (c) candidate pairs on
    the real corpus overlap heavily with the portable-MD5 path."""
    from auto_vectordb_spark.operators import dedup as DD

    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta"),
        (1, "alpha beta gamma delta epsilon zeta eta theta"),  # exact dup of 0
        (2, "totally different words nothing shared here at all"),
        (3, "alpha beta gamma delta epsilon zeta eta iota"),  # near dup of 0
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {
        (r["id_a"], r["id_b"])
        for r in DD.minhash_lsh_pairs(docs, fast=True).collect()
    }
    assert (0, 1) in pairs  # exact dups always collide
    assert not any(2 in p for p in pairs)  # disjoint text never pairs
    # determinism
    pairs2 = {
        (r["id_a"], r["id_b"])
        for r in DD.minhash_lsh_pairs(docs, fast=True).collect()
    }
    assert pairs == pairs2

    corpus = spark.read.parquet(f"{sf_dir}/documents.parquet")
    slow = {
        (r["id_a"], r["id_b"]) for r in DD.minhash_lsh_pairs(corpus).collect()
    }
    fast = {
        (r["id_a"], r["id_b"])
        for r in DD.minhash_lsh_pairs(corpus, fast=True).collect()
    }
    if slow or fast:
        overlap = len(slow & fast) / max(len(slow | fast), 1)
        assert overlap > 0.7, (len(slow), len(fast), overlap)


def test_apply_dedup_keep_best(spark):
    """keep_best keeps the highest-quality doc per component (tie: min id);
    singletons survive; output size equals keep_one's."""
    from auto_vectordb_spark.operators import dedup as DD

    docs = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "x"), (9, "y"), (20, "z"), (21, "z")],
        ["doc_id", "text"],
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (20, 21)], ["id_a", "id_b"]
    )
    quality = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9), (9, 0.1), (20, 0.5), (21, 0.5)],
        ["doc_id", "quality"],
    )
    got = {
        r["doc_id"]
        for r in DD.apply_dedup_keep_best(docs, pairs, quality).collect()
    }
    # component {1,2,3}: 2 and 3 tie at 0.9 -> min id 2 wins (not min-id-1)
    # component {20,21}: tie -> 20; singleton 9 survives
    assert got == {2, 9, 20}


def test_minhash_incremental_fast_flag_must_match(spark):
    """The incremental probe keys must be built with the same hash family
    AND the same fast-hash version as the persisted bucket table. Matching
    flags find the cross-batch dup; every mismatch now RAISES via the
    persisted fhv stamp instead of silently finding nothing (the
    documented footgun, promoted from doc-warning to hard error)."""
    import pyspark.sql.functions as SF
    import pytest as _pytest

    from auto_vectordb_spark.operators import dedup as DD

    old = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")], ["doc_id", "text"]
    )
    new = spark.createDataFrame(
        [(2, "alpha beta gamma delta epsilon zeta")], ["doc_id", "text"]
    )
    table_fast = DD.minhash_bucket_table(old, fast=True)
    assert "fhv" in table_fast.columns  # the stamp persists with the table
    hit = DD.minhash_lsh_pairs_incremental(new, table_fast, fast=True).collect()
    assert {(r["id_a"], r["id_b"]) for r in hit} == {(1, 2)}
    # hash-family mismatch: fast probe against a portable table and vice versa
    table_md5 = DD.minhash_bucket_table(old, fast=False)
    assert "fhv" not in table_md5.columns
    with _pytest.raises(ValueError, match="fhv stamp"):
        DD.minhash_lsh_pairs_incremental(new, table_fast, fast=False)
    with _pytest.raises(ValueError, match="no fhv stamp"):
        DD.minhash_lsh_pairs_incremental(new, table_md5, fast=True)
    # version mismatch: a table persisted under an older FAST_HASH_VERSION
    table_v1 = table_fast.withColumn("fhv", SF.lit(DD.FAST_HASH_VERSION - 1))
    with _pytest.raises(ValueError, match="FAST_HASH_VERSION"):
        DD.minhash_lsh_pairs_incremental(new, table_v1, fast=True)


def test_sentence_crossdoc_dups_and_removal(spark):
    from auto_vectordb_spark.operators.dedup import (
        remove_dup_sentences,
        sentence_crossdoc_dups,
    )
    from auto_vectordb_spark.operators.textstats import sentence_segments

    docs = spark.createDataFrame(
        [
            (1, "Subscribe now. Unique alpha content. Subscribe now."),
            (2, "Subscribe now. Totally different beta."),
            (3, "Only original gamma text here."),
        ],
        ["doc_id", "text"],
    )
    seg = sentence_segments(docs)
    dups = sentence_crossdoc_dups(seg).collect()
    # "Subscribe now." appears in docs 1+2 (per-doc distinct: doc 1's repeat
    # counts once) -> exactly one boilerplate hash with n_docs=2
    assert len(dups) == 1 and dups[0]["n_docs"] == 2

    rem = {r["doc_id"]: r for r in remove_dup_sentences(seg).collect()}
    assert rem[1]["n_sents"] == 3 and rem[1]["n_removed"] == 2
    assert rem[1]["cleaned_text"] == "Unique alpha content."
    assert rem[2]["n_sents"] == 2 and rem[2]["n_removed"] == 1
    assert rem[2]["cleaned_text"] == "Totally different beta."
    assert rem[3]["n_removed"] == 0
    assert rem[3]["cleaned_text"] == "Only original gamma text here."


def test_remove_dup_sentences_fully_removed_doc_empty_text(spark):
    from auto_vectordb_spark.operators.dedup import remove_dup_sentences
    from auto_vectordb_spark.operators.textstats import sentence_segments

    docs = spark.createDataFrame(
        [(1, "Same thing."), (2, "Same thing.")], ["doc_id", "text"]
    )
    rem = {r["doc_id"]: r for r in remove_dup_sentences(sentence_segments(docs)).collect()}
    for d in (1, 2):
        assert rem[d]["n_sents"] == 1 and rem[d]["n_removed"] == 1
        assert rem[d]["cleaned_text"] == ""


def test_remove_dup_sentences_idempotent(spark):
    """Removal is a fixpoint: every cross-doc duplicate sentence is excised
    from ALL docs in one pass, so a second pass over the cleaned corpus
    removes nothing."""
    from auto_vectordb_spark.operators.dedup import remove_dup_sentences
    from auto_vectordb_spark.operators.textstats import sentence_segments

    docs = spark.createDataFrame(
        [
            (1, "Shared header. Alpha body text. Shared footer."),
            (2, "Shared header. Beta body text. Shared footer."),
            (3, "Gamma only. Shared header."),
        ],
        ["doc_id", "text"],
    )
    first = remove_dup_sentences(sentence_segments(docs))
    cleaned = first.select("doc_id", F.col("cleaned_text").alias("text"))
    second = {
        r["doc_id"]: r
        for r in remove_dup_sentences(sentence_segments(cleaned)).collect()
    }
    for r in first.collect():
        kept = r["n_sents"] - r["n_removed"]
        if kept:
            assert second[r["doc_id"]]["n_removed"] == 0
            assert second[r["doc_id"]]["cleaned_text"] == r["cleaned_text"]


def test_ngram_novelty_bounds_and_self_reference_is_zero(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    ref = docs.filter(F.col("doc_id") % 5 != 0)
    out = DD.ngram_novelty(new, ref, k=3).collect()
    assert out and all(0.0 <= r["novelty"] <= 1.0 for r in out)
    assert all(r["n_unseen"] <= r["n_shingles"] for r in out)
    # novelty against a reference that CONTAINS the probe docs is exactly 0
    self_out = DD.ngram_novelty(new, docs, k=3).collect()
    assert self_out and all(r["novelty"] == 0.0 and r["n_unseen"] == 0 for r in self_out)
    # disjoint reference -> novelty exactly 1
    import pyspark.sql.functions as SF
    fake_ref = spark.createDataFrame(
        [(999999, "zzqx1 zzqx2 zzqx3 zzqx4")], ["doc_id", "text"]
    )
    disj = DD.ngram_novelty(new.limit(20), fake_ref, k=3).collect()
    assert disj and all(r["novelty"] == 1.0 for r in disj)


def test_ngram_containment_detects_subset_jaccard_misses(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    longer = base + " " + " ".join(f"w{i} x{i} y{i}" for i in range(30))
    docs = spark.createDataFrame([(1, base), (2, longer), (3, "unrelated words only here")],
                                 ["doc_id", "text"])
    out = DD.ngram_containment_pairs(docs, threshold=0.9).collect()
    assert len(out) == 1 and (out[0]["id_a"], out[0]["id_b"]) == (1, 2)
    assert out[0]["containment"] == 1.0  # base's shingles all inside longer
    jac = DD.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    assert jac == []  # jaccard blind to the same subset pair


def test_levenshtein_pairs_block_and_threshold(spark):
    docs = spark.createDataFrame(
        [
            (1, "the common prefix here with a tiny typo at the end zz"),
            (2, "the common prefix here with a tiny typo at the end qq"),
            (3, "the common prefix but then it diverges completely into other words"),
            (4, "entirely different opening so never even a candidate pair"),
        ],
        ["doc_id", "text"],
    )
    out = {(r["id_a"], r["id_b"]): r["dist"]
           for r in DD.prefix_blocked_levenshtein_pairs(docs).collect()}
    assert (1, 2) in out and out[(1, 2)] == 2
    assert (1, 3) not in out and (2, 3) not in out  # candidates, over max_dist
    assert all(4 not in p for p in out)  # blocked out entirely


def test_semantic_decontaminate_flags_eval_members_hit_themselves(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    eval_set = emb.filter(F.col("vec_id") < 5)
    # corpus INCLUDING the eval rows: each eval vector matches itself at cos=1
    out = {r["vec_id"]: r for r in
           DD.semantic_decontaminate_flags(emb, eval_set, threshold=0.3).collect()}
    for vid in range(5):
        assert vid in out and out[vid]["max_cos"] == 1.0
    held_out = DD.semantic_decontaminate_flags(
        emb.filter(F.col("vec_id") >= 5), eval_set, threshold=0.3
    ).collect()
    assert held_out  # planted near-dups exist in the fixture
    assert all(r["max_cos"] < 1.0 and 1 <= r["n_hits"] <= 5 for r in held_out)
