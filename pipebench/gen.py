"""Seeded input generator for the pipeline benchmark.

Writes a staged document tree and a query set from one integer seed; the
same seed and sizes give byte-identical files. Nothing here touches Spark:
the program under test only ever sees the files and queries written here.

Layout of ``out_dir``::

    uploaded/<lv1>/<lv2>/f0000.txt   form-feed separated pages
    queries.jsonl                    one {"text", "categories"} per line
    truth.json                       planted near-duplicate pairs + sizes

Input properties the system's behaviour depends on:

- vocabulary ranks follow a Zipf-Mandelbrot law whose head is English
  stopwords, so BM25 postings lists range from most pages (head terms) to
  one or two pages (tail terms);
- a share of pages are near-copies of an earlier page with a few token
  substitutions (planted near-duplicates for the dedup operators);
- a share of pages are junk (short tokens, heavy punctuation) that the
  quality filter should drop;
- queries mix head-term and tail-term queries, and a share is scoped to
  one ``lv1_cat`` category (a partition-pruned read).

No traffic data backs the shares and lengths below: each one is an
unverified assumption, picked so that every code path the workloads time
gets a visible amount of work. Revisit them once real traffic is measured.
"""

from __future__ import annotations

import json
from dataclasses import asdict, dataclass
from pathlib import Path

import numpy as np

STOPWORDS = (
    "the", "and", "of", "to", "in", "is", "that", "with",
    "a", "for", "on", "as", "by", "it", "at", "from",
)
_CONSONANTS = "bcdfghjklmnprstvwz"
_VOWELS = "aeiou"


# Input properties: all unverified assumptions (see the module docstring).
PAGES_PER_FILE = 8
PAGE_TOKENS = (240, 360)
ZIPF_S = 1.0
ZIPF_Q = 50.0
LV1_CATS = 4
LV2_CATS = 3
DUP_SHARE = 0.10
DUP_EDITS = 3
JUNK_SHARE = 0.05
QUERY_TERMS = (2, 4)
HEAD_QUERY_EVERY = 2  # every 2nd query uses head terms, the rest tail terms
SCOPED_QUERY_EVERY = 4  # every 4th query is scoped to one category

PROPERTIES = {
    "pages_per_file": PAGES_PER_FILE, "page_tokens": PAGE_TOKENS, "zipf_s": ZIPF_S,
    "zipf_q": ZIPF_Q, "lv1_cats": LV1_CATS, "lv2_cats": LV2_CATS, "dup_share": DUP_SHARE,
    "dup_edits": DUP_EDITS, "junk_share": JUNK_SHARE, "query_terms": QUERY_TERMS,
    "head_query_every": HEAD_QUERY_EVERY, "scoped_query_every": SCOPED_QUERY_EVERY,
}


@dataclass(frozen=True)
class Sizes:
    """The sizes of one generated input set; the benchmark uses the
    defaults, the generator's tests a smaller set."""

    pages: int = 600
    queries: int = 400
    vocab: int = 20000
    head_ranks: tuple[int, int] = (len(STOPWORDS), 400)
    tail_ranks: tuple[int, int] = (4000, 20000)


def _vocabulary(rng: np.random.Generator, n: int) -> list[str]:
    """Stopwords first (the Zipf head), then distinct pronounceable words."""
    words = list(STOPWORDS)
    seen = set(words)
    while len(words) < n:
        syl = int(rng.integers(2, 5))
        w = "".join(
            _CONSONANTS[int(rng.integers(len(_CONSONANTS)))]
            + _VOWELS[int(rng.integers(len(_VOWELS)))]
            for _ in range(syl)
        )
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _render(tokens: list[str]) -> str:
    """Sentences of 12 words, four sentences per line."""
    sentences = [" ".join(tokens[i : i + 12]) + "." for i in range(0, len(tokens), 12)]
    return "\n".join(" ".join(sentences[i : i + 4]) for i in range(0, len(sentences), 4))


def _junk(rng: np.random.Generator, n: int) -> str:
    chars = "abcdefghijklmnopqrstuvwxyz0123456789"
    toks = [
        "".join(chars[int(c)] for c in rng.integers(len(chars), size=int(rng.integers(1, 3))))
        for _ in range(n)
    ]
    return " ## ".join(toks) + " !!"


def generate(seed: int, out_dir: Path, sizes: Sizes = Sizes()) -> dict:
    """Write one input set under ``out_dir``; returns the truth record."""
    rng = np.random.default_rng(seed)
    vocab = _vocabulary(rng, sizes.vocab)
    # Zipf-Mandelbrot: rank r has weight 1/(r + q)^s. The offset q flattens
    # the head so that two unrelated pages' bag-of-words embeddings stay far
    # below the near-duplicate cosine threshold.
    cdf = np.cumsum(1.0 / (np.arange(1, sizes.vocab + 1) + ZIPF_Q) ** ZIPF_S)
    cdf /= cdf[-1]

    def sample_words(n: int) -> list[str]:
        idx = np.minimum(np.searchsorted(cdf, rng.random(n)), sizes.vocab - 1)
        return [vocab[i] for i in idx]

    cats = [(f"cat{a}", f"sub{a}{b}") for a in range(LV1_CATS) for b in range(LV2_CATS)]
    n_files = -(-sizes.pages // PAGES_PER_FILE)
    # lv2 is drawn independently of lv1 on purpose: the category tree is
    # irregular, as uploaded folder trees are.
    files = [
        (f"{cats[int(rng.integers(len(cats)))][0]}/{cats[int(rng.integers(len(cats)))][1]}", f)
        for f in range(n_files)
    ]

    # Exact counts of junk and near-duplicate pages at seeded positions, so
    # that the dedup and quality work per run does not vary with the seed.
    n_junk = round(JUNK_SHARE * sizes.pages)
    n_dup = round(DUP_SHARE * sizes.pages)
    kinds = rng.permutation(["junk"] * n_junk + ["dup"] * n_dup + ["orig"] * (sizes.pages - n_junk - n_dup))
    keys = [
        (f"{files[p // PAGES_PER_FILE][0]}/f{files[p // PAGES_PER_FILE][1]:04d}.txt",
         p % PAGES_PER_FILE)
        for p in range(sizes.pages)
    ]
    pages: list[str] = [""] * sizes.pages
    tokens: dict[int, list[str]] = {}
    for p, kind in enumerate(kinds):
        if kind == "junk":
            pages[p] = _junk(rng, int(rng.integers(*PAGE_TOKENS)))
        elif kind == "orig":
            tokens[p] = sample_words(int(rng.integers(*PAGE_TOKENS)))
            pages[p] = _render(tokens[p])
    originals = sorted(tokens)
    planted: list[tuple[str, int, str, int]] = []
    for p in np.flatnonzero(kinds == "dup"):
        src = originals[int(rng.integers(len(originals)))]
        toks = list(tokens[src])
        for pos in rng.choice(len(toks), size=DUP_EDITS, replace=False):
            toks[int(pos)] = sample_words(1)[0]
        pages[p] = _render(toks)
        planted.append((*keys[src], *keys[p]))

    out_dir = Path(out_dir)
    staged = out_dir / "uploaded"
    text_bytes = 0
    for i in range(0, sizes.pages, PAGES_PER_FILE):
        path = staged / keys[i][0]
        path.parent.mkdir(parents=True, exist_ok=True)
        data = "\f".join(pages[i : i + PAGES_PER_FILE]).encode()
        path.write_bytes(data)
        text_bytes += len(data)

    lv1_names = sorted({c[0] for c in cats})
    # The query kinds follow a fixed period instead of a coin flip, so that
    # any prefix of the sequence -- a short run only gets through the first
    # few queries -- has the same mix of kinds on every seed.
    queries = []
    for i in range(sizes.queries):
        n_terms = int(rng.integers(QUERY_TERMS[0], QUERY_TERMS[1] + 1))
        lo, hi = sizes.head_ranks if i % HEAD_QUERY_EVERY == 0 else sizes.tail_ranks
        terms = [vocab[int(r)] for r in rng.integers(lo, hi, size=n_terms)]
        scoped = i % SCOPED_QUERY_EVERY == SCOPED_QUERY_EVERY - 1
        queries.append(
            {
                "text": " ".join(terms),
                "categories": [lv1_names[int(rng.integers(len(lv1_names)))]] if scoped else None,
            }
        )
    with open(out_dir / "queries.jsonl", "w") as fh:
        for q in queries:
            fh.write(json.dumps(q, sort_keys=True) + "\n")

    truth = {
        "seed": seed,
        "sizes": asdict(sizes),
        "properties": PROPERTIES,
        "pages": sizes.pages,
        "files": n_files,
        "text_bytes": text_bytes,
        "planted_pairs": planted,
    }
    (out_dir / "truth.json").write_text(json.dumps(truth, sort_keys=True))
    return truth


def load_queries(out_dir: Path) -> list[dict]:
    with open(Path(out_dir) / "queries.jsonl") as fh:
        return [json.loads(line) for line in fh]
