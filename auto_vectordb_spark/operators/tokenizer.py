"""Distributed BPE tokenizer training (Sennrich et al. 2016, "Neural
Machine Translation of Rare Words with Subword Units") — the tokenizer-
TRAINING capability of an LLM data pipeline (the reference has no tokenizer
surface at all; textstats.py only counts tokens with a fixed BPE-ish regex).

Scale shape — the whole algorithm runs on the WORD-COUNT table, never the
corpus:

1. ONE corpus pass reduces text to (word, count) — the standard BPE
   pre-tokenization reduction. At 100 TB the distinct-word table is a few
   hundred million rows at most: it fits the cluster trivially and every
   merge iteration operates on it alone.
2. Each merge ROUND is: adjacent-pair counts (one short-key shuffle over
   the vocab, map-side combined, weighted by word count) → argmax collect
   of the head (count desc, pair asc — deterministic tie-break) → apply
   the merge(s) to the symbol strings with lookaround-anchored
   regexp_replace (the exact left-to-right non-overlapping semantics of
   the reference implementation's ``re.sub('(?<!\\S)a b(?!\\S)')``).
   With ``merge_batch`` > 1 a round applies up to M provably-independent
   merges at once (see :func:`_select_merge_batch`), so a production 32k
   vocab is ~32k/M rounds, not 32k sequential Spark jobs.
3. The evolving vocab is eagerly ``localCheckpoint``-ed per iteration:
   that truncates the LOGICAL plan, not just execution — K nested merge
   rounds otherwise accrete a plan whose very explain-string OOMs the
   driver (measured at K=20 on a default-heap session), the same reason
   dedup's label propagation checkpoints. Each round's jobs then run
   against a one-round-deep plan over the small vocab blocks.

The 1-row-per-iteration collect is a sanctioned scalar action (the global
argmax is a reduction to ONE value by definition); nothing else leaves the
executors. Equivalence against a pure-Python reference BPE is gated in
tests/test_tokenizer.py.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokenize
from ..session import materialize

END_OF_WORD = "</w>"


def word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, count) — the one corpus-scale reduction of BPE training."""
    return (
        docs.select(F.explode(tokenize(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("count"))
    )


def _initial_symbols() -> F.Column:
    """Space-joined character symbols with the end-of-word marker:
    'low' → 'l o w </w>'."""
    chars = F.filter(F.split(F.col("word"), ""), lambda c: c != "")
    return F.array_join(F.concat(chars, F.array(F.lit(END_OF_WORD))), " ")


_PAIRS_EXPR = (
    "transform(slice(__s, 1, size(__s) - 1), (x, i) -> "
    "struct(x AS left, element_at(__s, i + 2) AS right))"
)


def _pair_counts(vocab: DataFrame) -> DataFrame:
    """(left, right, freq): adjacent symbol pairs weighted by word count."""
    return (
        vocab.select(F.split("sym", " ").alias("__s"), "count")
        .select(F.explode(F.expr(_PAIRS_EXPR)).alias("p"), "count")
        .groupBy(F.col("p.left").alias("left"), F.col("p.right").alias("right"))
        .agg(F.sum("count").alias("freq"))
    )


def _select_merge_batch(
    head: list, batch: int, min_freq: int, exhaustive: bool
) -> list[tuple[str, str, int]]:
    """Greedy prefix of the sorted pair-count head that is PROVABLY the next
    ``len(picks)`` merges classic sequential BPE would make, in order.

    Selection walks the head (freq desc, pair asc — the argmax order) and
    picks pairs while they are symbol-disjoint from everything already
    picked (including the picked pairs' concatenated new symbols); the walk
    STOPS — not skips — at the first interacting candidate, so every pair
    that any picked merge can change sorts strictly after the picks.

    Equivalence argument (each sequential step k < m must still choose
    pick k+1 after applying picks 1..k):

    - picks are mutually symbol-disjoint and their concats are fresh
      symbols (enforced by ``used`` here plus the vocab-collision check in
      :func:`bpe_train`), so applying them in any order yields the same
      vocab and none creates/destroys another pick's adjacencies;
    - every pair whose count a pick can change shares a symbol with it →
      sorts at/after the stop position → old freq <= ``cut`` (the stop
      entry's freq); pairs NOT in the head are below the head minimum;
    - new pairs created by merging (x, l r -> x, lr) have freq bounded by
      the old interacting pair (x, l)'s freq <= cut;
    - the final strict truncation keeps only picks with freq > cut, so no
      changed/new pair can reach a pick's frequency, and ties (where the
      pair-asc tie-break could reorder) are impossible.

    Degenerates gracefully: flat-frequency regions truncate the batch
    (worst case to 1 pick = classic exact argmax).
    """
    picks: list[tuple[str, str, int]] = []
    used: set[str] = set()
    cut: int | None = None
    for r in head:
        left, right, freq = r["left"], r["right"], int(r["freq"])
        if freq < min_freq:
            cut = None  # nothing at/below this frequency may merge anyway
            break
        if len(picks) >= batch or (
            picks and (left in used or right in used or (left + right) in used)
        ):
            cut = freq
            break
        picks.append((left, right, freq))
        used.update((left, right, left + right))
    else:
        # head exhausted without a stop: only safe to skip the cut when the
        # head held EVERY pair (limit not reached)
        cut = None if exhaustive or not head else int(head[-1]["freq"])
    if cut is not None and len(picks) > 1:
        kept = [p for p in picks if p[2] > cut]
        picks = kept or picks[:1]  # pick #1 is the exact argmax regardless
    return picks


def bpe_train(
    docs: DataFrame,
    text_col: str = "text",
    num_merges: int = 30,
    min_freq: int = 2,
    merge_batch: int = 1,
) -> tuple[DataFrame, DataFrame]:
    """Learn ``num_merges`` BPE merges from a corpus.

    Returns ``(merges, vocab)``:

    - ``merges``: (rank, left, right, freq) — the ordered merge table, i.e.
      THE tokenizer artifact (apply with :func:`bpe_encode_words`);
    - ``vocab``: (word, sym, count) — every distinct word with its final
      subword segmentation (space-joined), for fertility/coverage audits.

    Stops early when the best pair's frequency drops below ``min_freq``
    (merging singletons memorizes the corpus).

    ``merge_batch`` > 1 is the production-scale path: each round collects
    the pair-count HEAD (top ``max(64, 4*batch)`` rows — still a bounded
    driver transfer), greedily takes up to ``merge_batch`` provably-safe
    merges (see :func:`_select_merge_batch`: mutually disjoint symbols,
    frequencies strictly dominating everything they can change, concats
    verified absent from the live vocab with one filtered aggregate), and
    applies them all in ONE vocab rewrite + localCheckpoint. A 32k-merge
    production vocab then costs ~32k/batch Spark rounds instead of 32k
    sequential jobs, with a merge table IDENTICAL to sequential training —
    batching here is a scheduling optimization, not an approximation.
    """
    spark = docs.sparkSession
    pin = materialize(
        word_counts(docs, text_col).select("word", _initial_symbols().alias("sym"), "count"),
        "checkpoint",
    )
    vocab = pin.df
    merges: list[tuple[int, str, str, int]] = []
    while len(merges) < num_merges:
        batch = min(max(1, merge_batch), num_merges - len(merges))
        head_n = max(64, 4 * batch) if batch > 1 else 1
        head = (
            _pair_counts(vocab)
            .orderBy(F.col("freq").desc(), F.col("left").asc(), F.col("right").asc())
            .limit(head_n)
            .collect()
        )
        if not head or head[0]["freq"] < min_freq:
            break
        picks = _select_merge_batch(head, batch, min_freq, exhaustive=len(head) < head_n)
        if len(picks) > 1:
            # a pick whose concat already exists as a live symbol could BOOST
            # an existing pair's count mid-batch (sum of old + new
            # occurrences breaks the dominance bound) — verify freshness
            # against the actual vocab and truncate at the first collision.
            concats = [left + right for left, right, _ in picks]
            existing = {
                r["s"]
                for r in (
                    vocab.select(F.explode(F.split("sym", " ")).alias("s"))
                    .filter(F.col("s").isin(concats))
                    .distinct()
                    .collect()
                )
            }
            if existing:
                for i, c in enumerate(concats):
                    if c in existing:
                        picks = picks[:i] if i >= 1 else picks[:1]
                        break
        sym_col = F.col("sym")
        for left, right, freq in picks:
            merges.append((len(merges), left, right, freq))
            pattern = f"(?<!\\S){re.escape(left)} {re.escape(right)}(?!\\S)"
            sym_col = F.regexp_replace(
                sym_col,
                pattern,
                (left + right).replace("\\", "\\\\").replace("$", "\\$"),
            )
        prev, pin = pin, materialize(vocab.withColumn("sym", sym_col), "checkpoint")
        prev.release()
        vocab = pin.df
    merges_df = spark.createDataFrame(
        merges, "rank int, left string, right string, freq bigint"
    )
    return merges_df, vocab


def bpe_encode_words(words: DataFrame, merges: DataFrame) -> DataFrame:
    """Segment each distinct word with a learned merge table. ``words``:
    any DataFrame with a ``word`` column; returns (word, sym, n_subwords)
    with ``sym`` space-joined like the training vocab.

    Encoding a CORPUS reduces to encoding its distinct words then joining
    back — the same vocab-table trick as training, so encoding cost is
    proportional to the vocabulary, not the text. The merge table is
    collected and shipped INSIDE the kernel closure: it is ≤ vocab_size
    rows (tens of thousands) by construction — a bounded model artifact,
    not data — and closure-shipping lets the ContextCleaner reclaim it
    with the UDF instead of parking an undestroyed ``sc.broadcast``
    handle for the session lifetime (the hygiene rule knn.py:320-326
    documents and the BLAS kernels follow). Per-word replay
    runs inside an Arrow-batched pandas_udf (the classic lowest-rank-first
    merge loop, provably equivalent to replaying merges in rank order), so
    a 30k-merge production tokenizer costs one dict lookup per pair instead
    of a 30k-deep regexp expression chain.
    """
    from pyspark.sql.functions import pandas_udf

    ranks = {
        (r["left"], r["right"]): r["rank"]
        for r in merges.select("rank", "left", "right").collect()
    }

    @pandas_udf("string")
    def _encode(col):
        rk = ranks

        def enc(word: str) -> str:
            syms = list(word) + [END_OF_WORD]
            while len(syms) > 1:
                pairs = [(syms[i], syms[i + 1]) for i in range(len(syms) - 1)]
                best = min(
                    (p for p in pairs if p in rk), key=rk.__getitem__, default=None
                )
                if best is None:
                    break
                out, i = [], 0
                while i < len(syms):
                    if i < len(syms) - 1 and (syms[i], syms[i + 1]) == best:
                        out.append(syms[i] + syms[i + 1])
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = out
            return " ".join(syms)

        return col.map(enc)

    return (
        words.select("word")
        .distinct()
        .select("word", _encode(F.col("word")).alias("sym"))
        .select("word", "sym", F.size(F.split("sym", " ")).alias("n_subwords"))
    )
