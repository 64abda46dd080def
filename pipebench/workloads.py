"""The two workloads, each run through the public API only.

A workload has a one-time preparation, a set-up pass that the run repeats
three times (``setup_s`` is their median), an unmeasured warm-up, the
operation that the timed loop repeats, and correctness checks that run
after the timed window. Every call into the library sits
inside a span, so a traced run can attribute all Spark work (tracing.py).
The layer spans inside the set-up passes count as measured: the write
path (parse, embed, save_corpus, build_index) is measured there.

- search: one closed-loop client sends the seeded query sequence through
  VectorPipeline.search(size=10) and collects the hits. Dominated by fixed
  per-query planning and scheduling. Set-up: build and cache the BM25
  index over a corpus ingested once beforehand.
- curate: build_training_set (MinHash-LSH, components, quality, token
  budget) then the bucketed BLAS embedding near-dup kernel at cosine 0.9.
  Shuffle-heavy; the only workload running the dedup, textstats and
  vector-decode code. Set-up: ingest the corpus it curates (parse ->
  embed(1024) -> save_corpus), the per-row Python and parquet write path.

Both check the stored corpus against the generated pages.
"""

from __future__ import annotations

import random
import shutil
from pathlib import Path

from pyspark.sql import functions as F

import gen
import oracle
from auto_vectordb_spark.operators import bm25 as BM25
from auto_vectordb_spark.operators import dedup as DD
from auto_vectordb_spark.operators import hybrid as HY
from auto_vectordb_spark.operators import knn as KNN
from auto_vectordb_spark.pipeline import VectorPipeline, build_training_set

DIM = 1024
SEARCH_SIZE = 10
NEARDUP_THRESHOLD = 0.9
# Floor on the share of planted near-duplicate pairs each dedup stage finds;
# a change trading recall for speed below it fails the run.
RECALL_FLOOR = 0.9
# About half of all tokens, so the budget cut binds. An unverified
# assumption, like the input shares in gen.py.
TOKENS_PER_PAGE_BUDGET = 150
PAGES_CHECKED = 16
QUERIES_CHECKED = 4
QUERIES_DIGESTED = 3


def cached_bytes(spark) -> int:
    """Bytes held by persisted RDDs and DataFrames, memory and disk."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()  # noqa: SLF001
    return int(sum(i.memSize() + i.diskSize() for i in infos))


class Workload:
    name = ""
    op_span = ""  # span name of one measured operation

    def __init__(self, spark, tracer, work: Path, seed: int, sizes: gen.Sizes) -> None:
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.sizes = sizes
        self.truth: dict = {}
        self.recall: dict[str, float] = {}  # planted near-dup pairs found, per dedup stage
        self.pipe: VectorPipeline | None = None

    # ---- shared steps -------------------------------------------------

    def stage(self) -> None:
        """Generate the inputs and upload them through the pipeline."""
        for d in ("gen", "store"):
            shutil.rmtree(self.work / d, ignore_errors=True)
        self.truth = gen.generate(self.seed, self.work / "gen", self.sizes)
        self.pipe = VectorPipeline(self.spark, str(self.work / "store"), dim=DIM)
        uploaded = self.work / "gen" / "uploaded"
        for folder in sorted({p.parent for p in uploaded.rglob("*.txt")}):
            with self.tracer.span("pipeline.stage_files"):
                self.pipe.stage_files(
                    [str(p) for p in sorted(folder.glob("*.txt"))],
                    str(folder.relative_to(uploaded)),
                )

    def ingest(self) -> None:
        t = self.tracer
        with t.span("pipeline.parse"):
            chunks = self.pipe.parse()
        with t.span("pipeline.embed"):
            chunks = self.pipe.embed(chunks)
        with t.span("pipeline.save_corpus") as s:
            self.pipe.save_corpus(chunks, mode="overwrite")
            if t.enabled:
                s["files_written"] = len(self.corpus_files())

    def build_index(self) -> None:
        with self.tracer.span("operators.bm25.build_index") as s:
            self.pipe.build_index()
            # build_index only declares the cached index frames; count them
            # so the index is materialized inside this call.
            idx = self.pipe._bm25  # noqa: SLF001
            for frame in (idx.postings, idx.doc_lens, idx.term_df):
                frame.count()
            if self.tracer.enabled:
                s["cached_bytes"] = cached_bytes(self.spark)

    def corpus_dir(self) -> Path:
        return self.work / "store" / "corpus"

    def corpus_files(self) -> list[Path]:
        return sorted(self.corpus_dir().rglob("*.parquet"))

    def stored_bytes_per_input_byte(self) -> float:
        stored = sum(p.stat().st_size for p in self.corpus_files())
        return stored / self.truth["text_bytes"]

    def corpus_checks(self) -> list[tuple[str, bool, str]]:
        """The stored corpus holds every generated page once, with the
        embedding the hash-projection embedder gives its stored text."""
        cols = oracle.read_corpus(self.corpus_dir(), ["id", "page_content", "embeddings"])
        ids = cols["id"]
        pages = self.truth["pages"]
        out = [
            ("corpus_rows", len(ids) == pages, f"{len(ids)} rows, {pages} pages generated"),
            ("ids_unique", len(set(ids)) == len(ids), f"{len(set(ids))} distinct ids"),
        ]
        bad_dim = sum(1 for v in cols["embeddings"] if v is None or len(v) != DIM)
        out.append(("embedding_dim", bad_dim == 0, f"{bad_dim} embeddings not {DIM} floats"))
        sample = random.Random(self.seed).sample(range(len(ids)), min(PAGES_CHECKED, len(ids)))
        bad = oracle.embedding_mismatches(
            [cols["page_content"][i] for i in sample], [cols["embeddings"][i] for i in sample], DIM
        )
        out.append(("embedding_values", not bad, f"{len(bad)}/{len(sample)} sampled pages differ"))
        return out

    # ---- workload protocol ---------------------------------------------

    def prepare(self) -> None:
        """One-time preparation before the set-up passes."""

    def setup_pass(self) -> None:
        """The workload's set-up, repeatable from the prepared state."""
        raise NotImplementedError

    def warmup(self) -> None:
        with self.tracer.span("warmup", op="warmup"):
            self.op_body(-1)

    def before_op(self) -> None:
        """Untimed clean-up between operations."""

    def op(self, i: int) -> None:
        with self.tracer.span(self.op_span, op=f"{self.name}-{i}", measured=True):
            self.op_body(i)

    def op_body(self, i: int) -> None:
        """One operation; ``i`` < 0 is the warm-up."""
        raise NotImplementedError

    def checks(self) -> list[tuple[str, bool, str]]:
        raise NotImplementedError

    def detail(self) -> dict:
        return {}


class Search(Workload):
    name = "search"
    op_span = "pipeline.search"

    def __init__(self, *args) -> None:
        super().__init__(*args)
        self.queries: list[dict] = []
        self.hits: dict[int, list[tuple[str, float]]] = {}
        self.warm_hits: list[list[tuple[str, float]]] = []

    def prepare(self) -> None:
        self.stage()
        self.ingest()
        self.queries = gen.load_queries(self.work / "gen")

    def setup_pass(self) -> None:
        self.spark.catalog.clearCache()
        self.build_index()

    def run_query(self, i: int) -> list[tuple[str, float]]:
        q = self.queries[i % len(self.queries)]
        with self.tracer.span("pipeline.search.construct"):
            df = self.pipe.search(q["text"], size=SEARCH_SIZE, categories=q["categories"])
        with self.tracer.span("pipeline.search.collect"):
            rows = df.collect()
        return [(r["id"], r["score"]) for r in rows]

    def warmup(self) -> None:
        # The warm-up runs the digested query prefix; the timed window runs
        # it again, and the checks compare the two.
        with self.tracer.span("warmup", op="warmup"):
            self.warm_hits = [self.run_query(i) for i in range(QUERIES_DIGESTED)]

    def op_body(self, i: int) -> None:
        self.hits[i] = self.run_query(i)

    def checks(self) -> list[tuple[str, bool, str]]:
        out = self.corpus_checks()
        with self.tracer.span("check.index_docs", op="check"):
            n_docs = self.pipe._bm25.n_docs  # noqa: SLF001
        out.append(("index_docs", n_docs == self.truth["pages"], f"index holds {n_docs} docs"))
        ref = oracle.SearchOracle.from_corpus(self.corpus_dir())
        done = sorted(self.hits)
        sample = sorted(random.Random(self.seed).sample(done, min(QUERIES_CHECKED, len(done))))
        for i in sample:
            q = self.queries[i % len(self.queries)]
            fused = ref.fused(q["text"], SEARCH_SIZE, q["categories"])
            want = ref.search(q["text"], SEARCH_SIZE, categories=q["categories"])
            err = oracle.compare_hits(self.hits[i], want, fused)
            out.append((f"oracle_q{i}", err is None, err or "hits match"))
        # the digest covers a fixed query prefix, whatever the window ran
        with self.tracer.span("check.digest_queries", op="check"):
            for i in range(QUERIES_DIGESTED):
                if i not in self.hits:
                    self.hits[i] = self.run_query(i)
        first, again = oracle.hits_digest(self.warm_hits), self.hits_digest()
        out.append(("hits_repeat", first == again, f"warm-up {first}, then {again}"))
        return out

    def hits_digest(self) -> str:
        return oracle.hits_digest([self.hits[i] for i in range(QUERIES_DIGESTED)])

    def detail(self) -> dict:
        return {"hits_digest": self.hits_digest()}


class Curate(Workload):
    name = op_span = "curate"

    def __init__(self, *args) -> None:
        super().__init__(*args)
        self.survivor_digests: list[str] = []
        self.budget = self.sizes.pages * TOKENS_PER_PAGE_BUDGET
        self.last_rows: list = []
        self.last_pairs: list = []

    def prepare(self) -> None:
        self.stage()

    def setup_pass(self) -> None:
        self.ingest()
        corpus = self.pipe.corpus()
        # 60-bit integer ids from the md5 page id: the near-dup kernel
        # needs integer ids, and both dedup stages see the same ones.
        doc_id = F.conv(F.substring("id", 1, 15), 16, 10).cast("long")
        self.docs = corpus.select(doc_id.alias("doc_id"), F.col("page_content").alias("text"))
        self.vectors = corpus.select(doc_id.alias("vec_id"), F.col("embeddings").alias("embedding"))

    def before_op(self) -> None:
        # build_training_set leaves its survivor table persisted; release it
        # so iterations do not accumulate cached blocks.
        self.spark.catalog.clearCache()

    def op_body(self, i: int) -> None:
        t = self.tracer
        with t.span("pipeline.build_training_set") as s:
            rows = build_training_set(self.docs, token_budget=self.budget).collect()
            if t.enabled:
                s["pinned_bytes"] = cached_bytes(self.spark)
        with t.span("operators.dedup.neardup_blas_bucketed") as s:
            pairs = DD.embedding_neardup_pairs_blas_bucketed(
                self.vectors, threshold=NEARDUP_THRESHOLD
            ).collect()
            s["candidate_pairs"] = len(pairs)
        self.last_rows, self.last_pairs = rows, pairs
        survivors = sorted((r["doc_id"], r["n_tokens"], r["cum_tokens"]) for r in rows)
        self.survivor_digests.append(oracle.digest(survivors))

    def planted_ids(self) -> set[tuple[int, int]]:
        cols = oracle.read_corpus(self.corpus_dir(), ["id", "filepath", "page"])
        key_to_id = {
            (path.split("/uploaded/", 1)[1], int(page)): int(doc_id[:15], 16)
            for doc_id, path, page in zip(cols["id"], cols["filepath"], cols["page"])
        }
        out = set()
        for pa, na, pb, nb in self.truth["planted_pairs"]:
            a, b = key_to_id[(pa, na)], key_to_id[(pb, nb)]
            out.add((min(a, b), max(a, b)))
        return out

    def checks(self) -> list[tuple[str, bool, str]]:
        planted = self.planted_ids()
        # MinHash runs inside build_training_set's lineage, so its own cost
        # is measured here, on its own, after the timed window.
        with self.tracer.span("operators.dedup.minhash_lsh_pairs", op="check", measured=True) as s:
            mh = {(r["id_a"], r["id_b"]) for r in DD.minhash_lsh_pairs(self.docs).collect()}
            s["candidate_pairs"] = len(mh)
            s["true_pair_ratio"] = len(mh & planted) / max(len(mh), 1)
        emb = {(r["id_a"], r["id_b"]) for r in self.last_pairs}
        self.recall = {
            "minhash": len(mh & planted) / len(planted),
            "embedding": len(emb & planted) / len(planted),
        }
        cum = [r["cum_tokens"] for r in self.last_rows]
        total = sum(r["n_tokens"] for r in self.last_rows)
        return [
            *self.corpus_checks(),
            ("budget", bool(cum) and max(cum) <= self.budget and max(cum) == total,
             f"{len(cum)} docs, {total} tokens, budget {self.budget}"),
            ("survivors_repeat", len(set(self.survivor_digests)) == 1,
             f"{len(self.survivor_digests)} iterations, digests {sorted(set(self.survivor_digests))}"),
            *[
                (f"recall_{k}", v >= RECALL_FLOOR, f"{v:.3f} of {len(planted)} planted pairs, floor {RECALL_FLOOR}")
                for k, v in self.recall.items()
            ],
        ]

    def detail(self) -> dict:
        return {"survivor_digest": self.survivor_digests[-1]}


WORKLOADS = {w.name: w for w in (Search, Curate)}


def install_wrappers(tracer) -> None:
    """Time the operator functions the public search call reaches."""
    tracer.wrap(BM25, "search", "operators.bm25.search")
    tracer.wrap(KNN, "score_pairs", "operators.knn.score_pairs")
    tracer.wrap(HY, "fuse_weighted", "operators.hybrid.fuse_weighted")
    tracer.wrap(VectorPipeline, "embed_texts", "functions.embedding.query")

