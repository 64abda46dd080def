"""Text transforms (reference §2.8 F1–F9, F12) + tokenization/shingling.

Every function returns a Column (JVM-side, whole-stage-codegen-able) — no
Python UDFs in this module. Tokenization and shingling have exact DuckDB SQL
twins (see plans/parity.py) so dedup/BM25 operators built on them can be
oracle-verified.

Reference citations (/root/reference/):
- F1 MD5 identity columns: backend/process/parsing.py:90-92
- F3 newline normalize:    backend/process/parsing.py:34,56-59
- F4 image-tag strip:      backend/process/parsing.py:105
- F5 context prefix:       backend/process/parsing.py:191-193,107
- F6 category path split:  backend/process/parsing.py:266-276
- F7 path normalize:       backend/process/parsing.py:109
- F9 null policy:          backend/process/postgres.py:152-154
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TOKEN_SPLIT_RE = "[^a-z0-9]+"  # lower-cased alnum tokens; RE2/Java-regex safe


def tokenize_text(text: str) -> list[str]:
    """Driver-side twin of :func:`tokenize` for one query string:
    ``str.lower`` then the same split, empties dropped. Spark's ``lower``
    goes through Java ``toLowerCase``; the two agree on non-ASCII input
    (İ, ß, the Kelvin sign, ǅ, fullwidth letters, ligatures, accents —
    gated in tests/test_functions.py) under the JVM's root-locale
    lowering."""
    return [t for t in re.split(TOKEN_SPLIT_RE, text.lower()) if t]


def md5_hex(col: Column) -> Column:
    """F1 — byte-identical to hashlib.md5(x).hexdigest() (parsing.py:90-92)."""
    return F.md5(col)


def normalize_newlines(col: Column) -> Column:
    """F3 — collapse ``\\r\\n<digits>`` page-number artifacts to ``\\n``."""
    return F.regexp_replace(col, r"\r\n\d+", "\n")


def strip_image_tags(col: Column) -> Column:
    """F4 — remove Docling's ``<!-- image -->`` placeholders."""
    return F.replace(col, F.lit("<!-- image -->"), F.lit(""))


def context_prefix(text: Column, stem: Column, cats: Column) -> Column:
    """F5 — prepend 'This page explains {stem} that belongs to {cats}...'."""
    return F.concat(
        F.lit("This page explains "),
        stem,
        F.lit(" that belongs to "),
        cats,
        F.lit(" categories.\n"),
        text,
    )


def normalize_path(col: Column) -> Column:
    """F7 — backslash → forward slash."""
    return F.translate(col, "\\", "/")


def category_levels(path: Column, root: str = "uploaded/", levels: int = 4) -> list[Column]:
    """F6 — lv1..lv4 category from path segments after ``root``, default ''.

    parsing.py:266-276 splits the path after the upload root and pads missing
    levels with empty strings; the last segment is the filename, not a level.
    """
    after = F.element_at(F.split(normalize_path(path), root), -1)
    segs = F.split(after, "/")
    n = F.size(segs)
    out = []
    for i in range(1, levels + 1):
        # segment i is a category only if it isn't the final (filename) segment
        out.append(
            F.when(n - 1 >= i, F.element_at(segs, i)).otherwise(F.lit("")).alias(f"lv{i}_cat")
        )
    return out


def fill_nulls_empty(df: DataFrame) -> DataFrame:
    """F9 — CSV-ingest null policy: string nulls become ''."""
    return df.na.fill("")


def tokenize(col: Column) -> Column:
    """Lower-case alnum tokens, empties dropped.

    DuckDB twin:
    ``list_filter(string_split_regex(lower(x), '[^a-z0-9]+'), t -> t <> '')``
    """
    return F.filter(F.split(F.lower(col), TOKEN_SPLIT_RE), lambda t: t != "")


def shingles(tokens: Column, k: int = 3) -> Column:
    """Word k-gram shingles (space-joined). Empty array if fewer than k tokens.

    DuckDB twin (1-based inclusive slices):
    ``CASE WHEN len(toks) < k THEN [] ELSE
      list_transform(range(1, len(toks) - (k-2)), i ->
        array_to_string(toks[i:i+(k-1)], ' ')) END``
    """
    n = F.size(tokens)
    # Built by zip_with-chaining k-1 shifted copies of the token array, not by
    # per-position slice+join: the slice formulation allocates a k-array per
    # shingle in interpreted eval and measured 3× slower at sf0.1 (and an
    # element_at-by-lambda-index formulation 10× slower). Trailing positions
    # short of k tokens produce null-padded joins trimmed by the final slice.
    acc = tokens
    for j in range(1, k):
        nxt = F.slice(tokens, j + 1, F.greatest(n - j, F.lit(0)))
        acc = F.zip_with(acc, nxt, lambda x, y: F.concat_ws(" ", x, y))
    return F.when(
        n >= k, F.slice(acc, 1, F.greatest(n - (k - 1), F.lit(0)))
    ).otherwise(F.array().cast("array<string>"))


def nfc_normalize_udf():
    """Arrow-batched Unicode NFC normalizer (pandas_udf) — the canonical-
    composition pass every multilingual curation pipeline needs before
    hashing or dedup (the same visible string has many byte encodings:
    'é' composed U+00E9 vs decomposed U+0065 U+0301 hash apart).

    Spark SQL has no unicode-normalize builtin, so this is a sanctioned
    Python node (Arrow-batched, whitelisted in tests/test_plan_audit.py);
    DuckDB twin: ``nfc_normalize(x)``.
    """
    import unicodedata

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(col):
        return col.map(
            lambda s: unicodedata.normalize("NFC", s) if s is not None else None
        )

    return _nfc
