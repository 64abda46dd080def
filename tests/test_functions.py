"""Byte-fidelity and edge-case tests for functions/ (SURVEY §2.8 F1–F9)."""

import hashlib

from pyspark.sql import functions as F

from auto_vectordb_spark.functions import hashing as H
from auto_vectordb_spark.functions import text as TX
from auto_vectordb_spark.functions import vector as V


def test_md5_byte_fidelity(spark):
    """F1 must byte-match hashlib.md5 (reference parsing.py:90-92)."""
    vals = ["hello", "", "한국어 텍스트", "a\nb\r\nc"]
    df = spark.createDataFrame([(v,) for v in vals], ["s"])
    got = {r["s"]: r["h"] for r in df.select("s", TX.md5_hex(F.col("s")).alias("h")).collect()}
    for v in vals:
        assert got[v] == hashlib.md5(v.encode("utf-8")).hexdigest()


def test_stable_hash60_matches_md5_prefix(spark):
    df = spark.createDataFrame([("spark",)], ["s"])
    got = df.select(H.stable_hash60(F.col("s")).alias("h")).first()["h"]
    expect = int(hashlib.md5(b"spark").hexdigest()[:15], 16)
    assert got == expect
    assert 0 <= got < 2**60


def test_minhash_params_deterministic_and_bounded():
    p1, p2 = H.minhash_params(16), H.minhash_params(16)
    assert p1 == p2
    assert len(set(p1)) == 16
    for a, b in p1:
        assert 0 < a < 2**30 and a % 2 == 1
        assert 0 <= b < 2**30


def test_normalize_newlines_and_image_strip(spark):
    df = spark.createDataFrame([("line\r\n42next<!-- image -->end",)], ["s"])
    out = df.select(
        TX.strip_image_tags(TX.normalize_newlines(F.col("s"))).alias("o")
    ).first()["o"]
    assert out == "line\nnextend"


def test_category_levels_padding(spark):
    """F6: segments after 'uploaded/', last segment is the filename, pad ''."""
    df = spark.createDataFrame(
        [("docs/uploaded/a/b/file.pdf",), ("docs\\uploaded\\x\\file.pdf",), ("uploaded/f.pdf",)],
        ["p"],
    )
    rows = df.select(*TX.category_levels(F.col("p"))).collect()
    assert tuple(rows[0]) == ("a", "b", "", "")
    assert tuple(rows[1]) == ("x", "", "", "")
    assert tuple(rows[2]) == ("", "", "", "")


def test_tokenize_and_shingles_edges(spark):
    df = spark.createDataFrame([("Hello, World 42!",), ("",), ("one two",)], ["s"])
    toks = [r["t"] for r in df.select(TX.tokenize(F.col("s")).alias("t")).collect()]
    assert toks[0] == ["hello", "world", "42"]
    assert toks[1] == []
    sh = [
        r["sh"]
        for r in df.select(TX.shingles(TX.tokenize(F.col("s")), 3).alias("sh")).collect()
    ]
    assert sh[0] == ["hello world 42"]
    assert sh[1] == [] and sh[2] == []  # < k tokens → empty


def test_query_tokenizer_matches_jvm_tokenize(spark):
    """tokenize_text (Python str.lower) must split exactly like the JVM
    tokenize (Java toLowerCase): a default-locale change on the JVM (the
    Turkish dotted/dotless i) would make query terms miss the index."""
    texts = [
        "Hello, World 42!",
        "İSTANBUL ıstanbul Iİ",
        "Straße STRASSE ß",
        "\u212aelvin \u212a 273\u212a",  # the Kelvin sign lowers to ASCII k
        "ǅemal Ǆ ǆ",
        "ＦＵＬＬ width Ａ１",
        "ﬁle ﬂow ﬁ",
        "Café ÉCOLE naïve Ñandú",
        "ÀÉÎÕÜ àéîõü",
        "ΣΊΣΥΦΟΣ Ωmega",
        "mIxEd-CaSe_with.dots",
        "",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["i", "s"])
    jvm = {r["i"]: r["t"] for r in df.select("i", TX.tokenize(F.col("s")).alias("t")).collect()}
    assert [jvm[i] for i in range(len(texts))] == [TX.tokenize_text(t) for t in texts]


def test_cosine_dot_vs_numpy(spark):
    import numpy as np

    a = [1.0, 2.0, 3.0]
    b = [-1.0, 0.5, 2.0]
    df = spark.createDataFrame([(a, b)], ["a", "b"])
    row = df.select(
        V.dot(F.col("a"), F.col("b")).alias("d"),
        V.cosine(F.col("a"), F.col("b")).alias("c"),
    ).first()
    na, nb = np.array(a), np.array(b)
    assert abs(row["d"] - float(na @ nb)) < 1e-12
    assert abs(row["c"] - float(na @ nb / (np.linalg.norm(na) * np.linalg.norm(nb)))) < 1e-12


def test_dim_guard(spark):
    df = spark.createDataFrame([([1.0] * 4,), ([1.0] * 3,)], ["e"])
    assert V.dim_guard(df, "e", 4).count() == 1


def test_hash_embedder_deterministic_and_normalized(spark):
    import numpy as np

    from auto_vectordb_spark.functions.embedding import embed_udf, hash_projection_embedder

    fn = hash_projection_embedder(32)
    m1, m2 = fn(["hello world", "x"]), fn(["hello world", "x"])
    assert np.allclose(m1, m2)
    assert abs(np.linalg.norm(m1[0]) - 1.0) < 1e-5
    # through Spark (Arrow-batched pandas_udf)
    df = spark.createDataFrame([("hello world",), ("",)], ["text"])
    out = df.select(embed_udf(dim=32)(F.col("text")).alias("e")).collect()
    assert len(out[0]["e"]) == 32
    assert np.allclose(np.array(out[0]["e"]), m1[0], atol=1e-6)


def test_parse_legacy_embedding_f10(spark):
    """F10 contract: '{...}' strings -> array<float>; malformed -> []."""
    from pyspark.sql import functions as F

    from auto_vectordb_spark.functions.embedding import parse_legacy_embedding

    df = spark.createDataFrame(
        [
            ("a", "{-0.07,0.01,2.5}"),
            ("b", "{}"),
            ("c", ""),
            ("d", "{a,b}"),
            ("e", "{1.0,bad}"),
            ("f", None),
        ],
        ["id", "s"],
    )
    got = {
        r["id"]: r["v"]
        for r in df.select("id", parse_legacy_embedding(F.col("s")).alias("v")).collect()
    }
    assert [round(x, 4) for x in got["a"]] == [-0.07, 0.01, 2.5]
    assert got["b"] == [] and got["c"] == []
    assert got["d"] == [] and got["e"] == [] and got["f"] == []


def test_quantize_int8_roundtrip_and_zero_guard(spark):
    from pyspark.sql import functions as F

    from auto_vectordb_spark.functions import vector as V

    df = spark.createDataFrame(
        [(0, [0.5, -1.0, 0.25, 0.0]), (1, [0.0, 0.0, 0.0, 0.0])],
        "vec_id int, embedding array<float>",
    )
    scale, q = V.quantize_int8(F.col("embedding"))
    out = df.select(
        "vec_id", "embedding", scale.alias("scale"), q.alias("q"),
        V.dequantize_int8(q, scale).alias("back"),
    ).collect()
    by_id = {r["vec_id"]: r for r in out}
    r0 = by_id[0]
    assert r0["scale"] == 127.0  # max|a| = 1.0
    assert r0["q"] == [64, -127, 32, 0]  # round(0.5*127)=64 (HALF_UP)
    for a, b in zip(r0["embedding"], r0["back"]):
        assert abs(a - b) <= 0.5 / r0["scale"] + 1e-12
    r1 = by_id[1]  # all-zero vector: scale 0, q all zero, back all zero
    assert r1["scale"] == 0.0
    assert r1["q"] == [0, 0, 0, 0] and r1["back"] == [0.0, 0.0, 0.0, 0.0]
