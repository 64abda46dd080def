"""Driver-side reference checks, independent of Spark.

The corpus is read straight from its parquet files with pyarrow, and every
expected answer is recomputed here in plain Python and NumPy:

- search: the reference's POST /search semantics — Lucene-formula BM25
  (k1=1.2, b=0.75, idf = ln(1 + (N - df + 0.5)/(df + 0.5))) top
  ``max(10*size, 50)`` over the whole corpus, weighted with cosine over the
  union (BM25 x 1.0 + cosine x 0.8), ``min_score`` cut, top ``size`` with
  ties broken by id. A category scope restricts both legs after the BM25
  cut, as the pipeline does.
- corpus: the stored embedding of a page equals the hash-projection
  embedder recomputed on the stored text.

Scores are compared with a relative tolerance: the two engines sum the same
terms in different orders and use different ``log`` implementations.
"""

from __future__ import annotations

import hashlib
import json
import math
import re
from collections import Counter, defaultdict
from pathlib import Path

import numpy as np
import pyarrow.dataset as ds

from auto_vectordb_spark.functions.embedding import hash_projection_embedder

K1, B = 1.2, 0.75
TEXT_BOOST, VECTOR_BOOST = 1.0, 0.8
SCORE_TOL = 1e-9
_SPLIT = re.compile("[^a-z0-9]+")


def tokenize(text: str) -> list[str]:
    return [t for t in _SPLIT.split(text.lower()) if t]


def read_corpus(corpus_dir: Path, columns: list[str]) -> dict[str, list]:
    """Columns of the corpus parquet, read without Spark; ``lv1_cat`` comes
    from the hive partition directory names."""
    table = ds.dataset(str(corpus_dir), format="parquet", partitioning="hive").to_table(
        columns=columns
    )
    return {c: table.column(c).to_pylist() for c in columns}


class SearchOracle:
    def __init__(self, ids: list[str], texts: list[str], cats: list[str], emb: np.ndarray) -> None:
        self.ids = ids
        self.cats = cats
        self.dim = emb.shape[1]
        self.postings: dict[str, list[tuple[int, int]]] = defaultdict(list)
        self.dl = np.zeros(len(ids))
        for i, text in enumerate(texts):
            toks = tokenize(text or "")
            self.dl[i] = len(toks)
            for term, tf in Counter(toks).items():
                self.postings[term].append((i, tf))
        valid = self.dl > 0
        self.n = float(valid.sum())
        self.avgdl = float(self.dl[valid].sum()) / self.n
        self.emb = emb.astype(np.float64)
        self.norms = np.linalg.norm(self.emb, axis=1)
        self.embed = hash_projection_embedder(self.dim)

    @classmethod
    def from_corpus(cls, corpus_dir: Path) -> "SearchOracle":
        cols = read_corpus(corpus_dir, ["id", "page_content", "embeddings", "lv1_cat"])
        first = {}
        for i, doc_id in enumerate(cols["id"]):
            first.setdefault(doc_id, i)
        keep = sorted(first.values())
        return cls(
            [cols["id"][i] for i in keep],
            [cols["page_content"][i] for i in keep],
            [cols["lv1_cat"][i] or "" for i in keep],
            np.array([cols["embeddings"][i] for i in keep], dtype=np.float32),
        )

    def bm25(self, text: str) -> dict[int, float]:
        scores: dict[int, float] = defaultdict(float)
        for term in set(tokenize(text)):
            plist = self.postings.get(term, [])
            if not plist:
                continue
            df = len(plist)
            idf = math.log(1.0 + (self.n - df + 0.5) / (df + 0.5))
            for i, tf in plist:
                norm = tf + K1 * (1.0 - B + B * self.dl[i] / self.avgdl)
                scores[i] += idf * (tf * (K1 + 1.0) / norm)
        return scores

    def fused(self, text: str, size: int = 10, categories: list[str] | None = None) -> dict[str, float]:
        """Fused score of every document in scope (the union of both legs)."""
        k = max(size * 10, 50)
        bm = self.bm25(text)
        top = sorted(bm.items(), key=lambda kv: (-kv[1], self.ids[kv[0]]))[:k]
        bm_top = dict(top)
        q = self.embed([text])[0].astype(np.float64)
        cos = (self.emb @ q) / (self.norms * np.linalg.norm(q))
        scope = set(categories) if categories is not None else None
        return {
            self.ids[i]: TEXT_BOOST * bm_top.get(i, 0.0) + VECTOR_BOOST * float(cos[i])
            for i in range(len(self.ids))
            if scope is None or self.cats[i] in scope
        }

    def search(
        self, text: str, size: int = 10, min_score: float = 0.0, categories: list[str] | None = None
    ) -> list[tuple[str, float]]:
        fused = self.fused(text, size, categories)
        hits = sorted(
            ((d, s) for d, s in fused.items() if s >= min_score), key=lambda h: (-h[1], h[0])
        )
        return hits[:size]


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= SCORE_TOL * max(1.0, abs(b))


def compare_hits(got: list[tuple[str, float]], want: list[tuple[str, float]], fused: dict[str, float]) -> str | None:
    """None when ``got`` is a correct top-k, else the first difference.

    Rank by rank the scores must agree with the oracle's, and each returned
    id must carry its own oracle score, so ids may differ from the oracle's
    only among documents whose scores tie within the tolerance."""
    if len(got) != len(want):
        return f"{len(got)} hits, expected {len(want)}"
    for rank, ((gid, gs), (wid, ws)) in enumerate(zip(got, want)):
        if not _close(gs, ws):
            return f"rank {rank}: score {gs!r}, expected {ws!r} ({wid})"
        if gid not in fused or not _close(gs, fused[gid]):
            return f"rank {rank}: {gid} scored {gs!r}, oracle {fused.get(gid)!r}"
    if len({gid for gid, _ in got}) != len(got):
        return "duplicate ids in hits"
    return None


def digest(obj) -> str:
    return hashlib.sha256(json.dumps(obj, sort_keys=True).encode()).hexdigest()[:16]


def hits_digest(hits: list[list[tuple[str, float]]]) -> str:
    return digest([[(d, round(s, 6)) for d, s in q] for q in hits])


def embedding_mismatches(texts: list[str], stored: list[list[float]], dim: int) -> list[int]:
    """Indexes of pages whose stored embedding differs from the embedder."""
    want = hash_projection_embedder(dim)(texts)
    return [
        i for i, vec in enumerate(stored)
        if len(vec) != dim or not np.array_equal(np.asarray(vec, dtype=np.float32), want[i])
    ]
