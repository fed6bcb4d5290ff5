"""The retrieval twin: build-once / serve-many over persisted indexes.

It runs inside the traced run of ``sp_interactive`` and feeds the
``retrieval.*`` and ``similarity.*`` per-layer metrics; it is not a
timed workload of its own (see README.md). It builds a BM25 index and an
IVF index over a seeded corpus with the shape of the engine's sf0.1
scale point (5,000 documents of 10-100 words, 2,000 64-dim clustered
vectors) and saves both. Then one client serves ``SERVES`` small query
batches against the loaded indexes, BM25 and IVF alternating. Every
``SERVES_PER_APPEND`` serves, starting with the first, it appends 1%
more documents and vectors to both persisted indexes and reloads them.
BM25 results are checked against an exact brute-force top-k over the
corpus as it stood at serve time; IVF results must carry exact cosines
in rank order, and their recall against brute force is reported."""

from __future__ import annotations

import math
import os
import random
import time
from collections import Counter

import numpy as np

from perfbench import gen
from perfbench.harness import RunContext, Tracer, median

BASE_DOCS = 5000  # documents in sf0.1
BASE_VECS = 2000  # embeddings in sf0.1
VOCAB = 2000
DIM = 64  # sf0.1 embedding width
APPEND_DOCS = BASE_DOCS // 100
APPEND_VECS = BASE_VECS // 100
QUERIES_PER_BATCH = 4
SERVES = 12
SERVES_PER_APPEND = 6  # the loop starts with an append
K = 10
C = 20  # BM25 impact-list depth; must be >= K
N_CENTROIDS = 16
NPROBE = 4
K1, B = 1.2, 0.75


class Bm25Brute:
    """Exact BM25 over one version of the corpus; document frequencies
    and lengths are counted once per version."""

    def __init__(self, docs: dict[int, list[str]], k1: float = K1):
        self.k1 = k1
        self.n = len(docs)
        self.tfs = {d: Counter(t) for d, t in docs.items()}
        self.dls = {d: len(t) for d, t in docs.items()}
        nonempty = [v for v in self.dls.values() if v > 0]
        self.avgdl = sum(nonempty) / len(nonempty)
        self.df = Counter(t for c in self.tfs.values() for t in c)

    def topk(self, query: list[str], k: int) -> list[tuple[int, float]]:
        """(doc id, score) by score desc, then id."""
        terms = set(query)
        scores = []
        for d, c in self.tfs.items():
            s = 0.0
            for t in terms:
                tf = c.get(t)
                if tf:
                    df = self.df[t]
                    idf = math.log((self.n - df + 0.5) / (df + 0.5) + 1.0)
                    s += idf * tf * (self.k1 + 1.0) / (
                        tf + self.k1 * (1.0 - B + B * self.dls[d] / self.avgdl)
                    )
            if s:
                scores.append((d, s))
        scores.sort(key=lambda x: (-x[1], x[0]))
        return scores[:k]


class CorpusTwin:
    def __init__(self, ctx: RunContext):
        self.ctx = ctx
        self.base_docs = ctx.scaled(BASE_DOCS, 200)
        self.base_vecs = ctx.scaled(BASE_VECS, 100)
        self.rng = random.Random(ctx.seed)
        self.k1 = K1  # the checker's BM25 k1; the engine's default is K1
        self.serves: list[tuple] = []  # (kind, n_appends, queries, rows)
        self.appends: list[dict] = []  # seconds per layer
        self.serve_ms: dict[str, list[float]] = {"bm25": [], "ivf": []}

    # -- inputs -----------------------------------------------------------
    def generate(self) -> None:
        self.vocab = gen.vocabulary(VOCAB)
        self.docs0 = gen.corpus_docs(self.rng, self.vocab, 0, self.base_docs)
        self.vec_ids0, self.vecs0 = gen.corpus_vectors(self.ctx.seed, 0, self.base_vecs, DIM)
        self.bm25_path = os.path.join(self.ctx.dir("index"), "bm25")
        self.ivf_path = os.path.join(self.ctx.dir("index"), "ivf")

    def new_batch(self, n_appends: int):
        first = self.base_docs + n_appends * APPEND_DOCS
        docs = gen.corpus_docs(self.rng, self.vocab, first, APPEND_DOCS)
        first = self.base_vecs + n_appends * APPEND_VECS
        ids, vecs = gen.corpus_vectors(self.ctx.seed * 1000 + n_appends + 1, first, APPEND_VECS, DIM)
        return docs, ids, vecs

    def bm25_queries(self) -> list[tuple[int, str]]:
        w = [1.0 / (r + 1) ** 0.9 for r in range(len(self.vocab))]
        return [(i, " ".join(self.rng.choices(self.vocab, weights=w, k=3))) for i in range(QUERIES_PER_BATCH)]

    def ivf_queries(self):
        ids, vecs = gen.corpus_vectors(self.rng.randrange(1 << 30), 0, QUERIES_PER_BATCH, DIM)
        return list(zip(ids, vecs.tolist()))

    # -- set-up -----------------------------------------------------------
    @staticmethod
    def frames(spark, docs, ids, vecs):
        d = spark.createDataFrame(docs, "doc_id long, text string")
        v = spark.createDataFrame(list(zip(ids, vecs.tolist())), "vec_id long, embedding array<double>")
        return d, v

    def prepare(self, spark) -> None:
        from fluent_bit_spark.extensions.retrieval import bm25_index, bm25_index_save
        from fluent_bit_spark.extensions.similarity import ivf_index, ivf_index_save

        self.n_appends = 0
        self.batches = []  # appended (docs, ids, vecs), in order
        docs, vecs = self.frames(spark, self.docs0, self.vec_ids0, self.vecs0)
        t0 = time.perf_counter()
        bm25_index_save(bm25_index(docs, c=C), self.bm25_path)
        t1 = time.perf_counter()
        ivf_index_save(ivf_index(vecs, n_centroids=N_CENTROIDS), self.ivf_path)
        t2 = time.perf_counter()
        self.build_s = {"retrieval": t1 - t0, "similarity": t2 - t1}
        self.load(spark, Tracer(False))

    def load(self, spark, tracer: Tracer) -> None:
        from fluent_bit_spark.extensions.retrieval import bm25_index_load
        from fluent_bit_spark.extensions.similarity import ivf_index_load

        with tracer.span("retrieval.load", "retrieval"):
            self.bm25 = bm25_index_load(spark, self.bm25_path)
        with tracer.span("similarity.load", "similarity"):
            self.ivf = ivf_index_load(spark, self.ivf_path)

    def warmup(self, spark) -> None:
        self.serve(spark, Tracer(False), "bm25", record=False)
        self.serve(spark, Tracer(False), "ivf", record=False)

    # -- measured loop ----------------------------------------------------
    def serve(self, spark, tracer: Tracer, kind: str, record: bool = True) -> None:
        from fluent_bit_spark.extensions.retrieval import bm25_topk_indexed
        from fluent_bit_spark.extensions.similarity import ivf_topk_indexed

        t0 = time.perf_counter()
        if kind == "bm25":
            qs = self.bm25_queries()
            with tracer.span("retrieval.serve", "retrieval"):
                qdf = spark.createDataFrame(qs, "query_id long, text string")
                rows = bm25_topk_indexed(self.bm25, qdf, k=K).collect()
        else:
            qs = self.ivf_queries()
            with tracer.span("similarity.serve", "similarity"):
                qdf = spark.createDataFrame(qs, "query_id long, query_vec array<double>")
                rows = ivf_topk_indexed(self.ivf, qdf, k=K, nprobe=NPROBE).collect()
        ms = (time.perf_counter() - t0) * 1000.0
        if record:
            self.serve_ms[kind].append(ms)
            self.serves.append((kind, self.n_appends, qs, rows))

    def append(self, spark, tracer: Tracer) -> None:
        from fluent_bit_spark.extensions.retrieval import bm25_index_append
        from fluent_bit_spark.extensions.similarity import ivf_index_append

        docs, ids, vecs = self.new_batch(self.n_appends)
        ddf, vdf = self.frames(spark, docs, ids, vecs)
        t0 = time.perf_counter()
        with tracer.span("retrieval.append", "retrieval"):
            bm25_index_append(spark, self.bm25_path, ddf)
        t1 = time.perf_counter()
        with tracer.span("similarity.append", "similarity"):
            ivf_index_append(spark, self.ivf_path, vdf)
        t2 = time.perf_counter()
        self.appends.append({"retrieval": t1 - t0, "similarity": t2 - t1})
        self.batches.append((docs, ids, vecs))
        self.n_appends += 1
        self.load(spark, tracer)

    def run(self, spark, tracer: Tracer) -> None:
        """Set-up, then the serve loop."""
        self.generate()
        self.prepare(spark)
        self.warmup(spark)
        for i in range(SERVES):
            with tracer.span("op", "bench"):
                if i % SERVES_PER_APPEND == 0:
                    self.append(spark, tracer)
                self.serve(spark, tracer, "bm25" if i % 2 == 0 else "ivf")

    # -- checks -----------------------------------------------------------
    def corpus_at(self, n_appends: int):
        docs = {d: t.split() for d, t in self.docs0}
        vecs = dict(zip(self.vec_ids0, self.vecs0))
        for batch_docs, ids, bv in self.batches[:n_appends]:
            docs.update((d, t.split()) for d, t in batch_docs)
            vecs.update(zip(ids, bv))
        return docs, vecs

    def check(self, spark) -> tuple[int, int, list[str]]:
        errors = []
        self.recall: list[float] = []
        attempted = 0
        versions: dict[int, tuple] = {}
        for kind, n_app, qs, rows in self.serves:
            if n_app not in versions:
                docs, vecs = self.corpus_at(n_app)
                ids = np.array(list(vecs.keys()))
                mat = np.array(list(vecs.values()))
                versions[n_app] = (Bm25Brute(docs, self.k1), ids, mat / np.linalg.norm(mat, axis=1)[:, None])
            brute, ids, unit = versions[n_app]
            by_q: dict[int, list] = {}
            for r in rows:
                by_q.setdefault(r["query_id"], []).append(r)
            for qid, q in qs:
                attempted += 1
                got = sorted(by_q.get(qid, []), key=lambda r: r["rank"])
                if kind == "bm25":
                    err = self.check_bm25(brute, q, got)
                else:
                    err = self.check_ivf(ids, unit, q, got)
                if err:
                    errors.append(f"{kind} query {qid}: {err}")
        return attempted, len(errors), errors

    def check_bm25(self, brute: Bm25Brute, text: str, got) -> str | None:
        """The engine rounds scores to 6 decimals; ties may list in any
        order, so compare the score sequence and each doc's own score."""
        exact = brute.topk(text.split(), brute.n)
        want = [s for _, s in exact[:K]]
        scores = [r["score"] for r in got]
        if len(want) != len(scores) or any(abs(a - b) > 2e-6 for a, b in zip(want, scores)):
            return f"scores {scores} != {want}"
        by_id = dict(exact)
        for r in got:
            if abs(by_id.get(r["doc_id"], -1.0) - r["score"]) > 2e-6:
                return f"doc {r['doc_id']} scored {r['score']}, exact {by_id.get(r['doc_id'])}"
        return None

    def check_ivf(self, ids, unit, q, got) -> str | None:
        qv = np.array(q)
        cos = unit @ qv / np.linalg.norm(qv)
        exact = dict(zip(ids.tolist(), cos.tolist()))
        if len(got) != K:
            return f"{len(got)} results, want {K}"
        prev = math.inf
        for r in got:
            if abs(exact[r["vec_id"]] - r["cos"]) > 1e-9 or r["cos"] > prev + 1e-12:
                return f"vec {r['vec_id']} cos {r['cos']} (exact {exact[r['vec_id']]}) wrong or out of order"
            prev = r["cos"]
        top = set(ids[np.argsort(-cos, kind="stable")[:K]].tolist())
        self.recall.append(len(top & {r["vec_id"] for r in got}) / K)
        return None

    def layers(self, tracer: Tracer, evlog) -> dict[str, float]:
        serves = tracer.spans_named("retrieval.serve")
        out = {
            "retrieval.build_s": self.build_s["retrieval"],
            "similarity.build_s": self.build_s["similarity"],
            "retrieval.append_s": median([a["retrieval"] for a in self.appends]),
            "similarity.append_s": median([a["similarity"] for a in self.appends]),
            "retrieval.load_ms": median(
                [s.dur * 1000.0 for s in tracer.spans_named("retrieval.load")]
            ),
            "retrieval.serve_ms": median(self.serve_ms["bm25"]),
            "similarity.serve_ms": median(self.serve_ms["ivf"]),
            "retrieval.jobs_per_serve": median([evlog.counts_in(s.start, s.end)[0] for s in serves]),
            "similarity.recall_at_k": median(self.recall) if self.recall else 0.0,
        }
        n_bytes = 0
        for dirpath, _, files in os.walk(self.bm25_path):
            n_bytes += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
        out["retrieval.index_bytes"] = float(n_bytes)
        out["retrieval.versions"] = float(
            sum(1 for d in os.listdir(self.bm25_path) if d.startswith("v"))
        )
        return out
