"""The perfbench workloads.

Each workload generates its inputs from the seed (untimed), has a
``setup`` (the calls into the engine a user pays before the first
answer; timed), and an ``op``: one operation of the closed loop, which
calls the engine's public functions, then checks the output against
ground truth in ``check`` (untimed), which returns ``(items, ok)`` and
leaves the per-op numbers the summary needs in ``self.last``.

With a real tracer every call into a layer runs inside a span, and the
layer's output is materialized (cached and counted) inside that span so
that Spark's lazy stages separate per layer. Calls inside a public
function (``build_index`` calls ``chunk`` and ``embed``;
``dedup_near_auto`` and ``knn_join_auto`` call their strategy choosers)
are reached by swapping the module attribute the function looks up for
a recording wrapper for the duration of the traced call.
"""

from __future__ import annotations

import contextlib
import hashlib
import math
import os
import re
import time

import numpy as np
import pyarrow.parquet as pq

import gen
from spans import NullTracer

DIM = 64


def twin_embed(text: str, dim: int = DIM) -> list[float]:
    """The mock embedder's formula, restated here to check the engine:
    component i is md5("i|text")[:15] mod 10^4 / 10^4 - 0.5, then the
    vector is L2-normalized and rounded to 9 digits."""
    raw = [
        (int(hashlib.md5(f"{i}|{text}".encode()).hexdigest()[:15], 16) % 10000) / 10000.0 - 0.5
        for i in range(dim)
    ]
    norm = math.sqrt(sum(x * x for x in raw))
    return [round(x / norm, 9) for x in raw]


def topk_ok(got_ids, got_dists, truth_ids, dist_of, tol: float = 1e-6) -> bool:
    """Hits equal the exact top-k: same length, distinct ids, each
    returned distance within ``tol`` of the true one, and rank by rank
    the true distance of the returned id within ``tol`` of the exact
    answer's (so ids may differ only inside a distance tie)."""
    if len(got_ids) != len(truth_ids) or len(set(got_ids)) != len(got_ids):
        return False
    for gid, gd, tid in zip(got_ids, got_dists, truth_ids):
        d = dist_of(gid)
        if d is None or (gd is not None and abs(gd - d) > tol):
            return False
        if gid != tid and abs(d - dist_of(tid)) > tol:
            return False
    return True


def data_files(path: str) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(path):
        out += [os.path.join(root, f) for f in files if not f.startswith((".", "_"))]
    return sorted(out)


@contextlib.contextmanager
def swapped(module, name: str, wrap):
    """Replace ``module.name`` by ``wrap(original)`` while inside."""
    orig = getattr(module, name)
    setattr(module, name, wrap(orig))
    try:
        yield
    finally:
        setattr(module, name, orig)


def materialize(df, sp, count_name: str):
    """Cache and count ``df`` so its stages finish inside span ``sp``."""
    df = df.cache()
    sp.count(**{count_name: df.count()})
    return df


class Workload:
    name = ""
    # ops run after setup and before timing, so timing starts warm
    WARMUP_OPS = 0

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.inputs: dict = {}
        self.last: dict = {}
        # the operations a traced run adds in traced_extras, by workload:
        # their check and their metrics
        self.side: dict[str, dict] = {}
        self._cached: list = []

    def _keep(self, df):
        self._cached.append(df)
        return df

    def release(self) -> None:
        for df in self._cached:
            df.unpersist()
        self._cached = []

    def setup(self, spark, tr) -> None:
        raise NotImplementedError

    def after_setup(self, spark) -> None:
        """Benchmark-side preparation between setup and timing (ground
        truth that needs the engine's setup output); untimed."""

    def op(self, spark, tr):
        """One timed operation; returns what ``check`` needs."""
        raise NotImplementedError

    def check(self, result) -> tuple[int, bool]:
        raise NotImplementedError

    def traced_extras(self, spark, tr) -> dict:
        """Per-layer counts a traced run adds once, outside the ops."""
        return {}


# ---------------------------------------------------------------- ingest


def _build_index_traced(tr):
    """Context: build_index's chunk() and embed() each run in a span and
    are materialized, so the index span's self time is the writer."""
    from cli_rag_spark.operators import index as index_mod

    def wrap(layer, count_name):
        def w(orig):
            def f(*a, **kw):
                with tr.span(layer) as sp:
                    return materialize(orig(*a, **kw), sp, count_name)
            return f
        return w

    stack = contextlib.ExitStack()
    stack.enter_context(swapped(index_mod, "chunk", wrap("chunk", "chunks_out")))
    stack.enter_context(swapped(index_mod, "embed", wrap("embed", "vectors_out")))
    return stack


def _record(sp, module, name: str, key: str):
    """Context: record ``module.name``'s return value on span ``sp``."""
    def w(orig):
        def f(*a, **kw):
            out = orig(*a, **kw)
            sp.count(**{key: out})
            return out
        return f
    return swapped(module, name, w)


class Ingest(Workload):
    name = "ingest"
    WARMUP_OPS = 3
    N_DOCS = 40
    DUP_FRAC = 0.2
    N_FILES = 4
    CHUNK = 512
    THRESHOLD = 0.8

    def __init__(self, seed, work):
        super().__init__(seed, work)
        self.texts, self.dups, _ = gen.make_corpus(seed, 1, self.N_DOCS, self.DUP_FRAC)
        self.corpus = os.path.join(work, "corpus")
        gen.write_corpus(self.texts, self.corpus, self.N_FILES)
        warm, _, _ = gen.make_corpus(seed, 2, self.N_DOCS, self.DUP_FRAC)
        self.warm = os.path.join(work, "warm")
        gen.write_corpus(warm, self.warm, 1)
        self.out = os.path.join(work, "index")
        self.inputs = {
            "docs": self.N_DOCS,
            "files": self.N_FILES,
            "text_bytes": sum(len(t.encode()) for t in self.texts),
            "planted_duplicates": len(self.dups),
            "duplicate_share": round(len(self.dups) / self.N_DOCS, 4),
            "chunk_size": self.CHUNK,
            "dim": DIM,
        }

    def _pipeline(self, spark, tr, src: str, out: str):
        from cli_rag_spark.operators import dedup as dedup_mod
        from cli_rag_spark.operators.index import build_index
        from cli_rag_spark.sources.documents import load_documents

        with tr.span("sources.load") as sp:
            docs = load_documents(spark, src)
            if tr.enabled:
                docs = self._keep(materialize(docs, sp, "docs"))
        with tr.span("dedup") as sp:
            if tr.enabled:
                with _record(sp, dedup_mod, "choose_dedup_strategy", "strategy"):
                    survivors = self._keep(
                        materialize(dedup_mod.dedup_near_auto(docs, threshold=self.THRESHOLD), sp, "survivors")
                    )
            else:
                survivors = dedup_mod.dedup_near_auto(docs, threshold=self.THRESHOLD)
        with tr.span("index"):
            with _build_index_traced(tr) if tr.enabled else contextlib.nullcontext():
                build_index(
                    survivors, out_path=out, chunk_size=self.CHUNK, chunk_mode="clean",
                    embed_mode="mock", dim=DIM,
                )
        self.release()

    def setup(self, spark, tr):
        self._pipeline(spark, tr, self.warm, os.path.join(self.work, "warm_index"))

    def op(self, spark, tr):
        self._pipeline(spark, tr, self.corpus, self.out)

    def check(self, result):
        from cli_rag_spark.operators.chunk import cut_clean

        t = pq.read_table(self.out, columns=["doc_id", "chunk_text", "embedding"])
        survivors = set(int(i) for i in np.unique(t.column("doc_id").to_numpy()))
        inputs = set(range(self.N_DOCS))
        ok = survivors <= inputs
        survivors &= inputs
        ok = ok and t.num_rows == sum(len(cut_clean(self.texts[i], self.CHUNK)) for i in survivors)
        texts = t.column("chunk_text").to_pylist()
        embs = t.column("embedding").to_pylist()
        for i in range(0, t.num_rows, max(1, t.num_rows // 8)):
            ok = ok and np.allclose(embs[i], twin_embed(texts[i]), atol=1e-9, rtol=0)
        dropped = inputs - survivors
        hit = len(dropped & set(self.dups))
        index_bytes = sum(os.path.getsize(f) for f in data_files(self.out))
        recall = hit / len(self.dups) if self.dups else 1.0
        self.last = {
            "quality": recall,
            "dedup_recall": recall,
            "dedup_precision": hit / len(dropped) if dropped else 1.0,
            "index_bytes_per_text_byte": index_bytes / sum(len(self.texts[i].encode()) for i in survivors),
        }
        return self.N_DOCS, bool(ok)

    def traced_extras(self, spark, tr):
        from cli_rag_spark.operators.dedup import jaccard_pairs, minhash_candidates
        from cli_rag_spark.sources.documents import load_documents
        from pyspark.sql import functions as F

        with tr.span("dedup.counts") as sp:
            docs = load_documents(spark, self.corpus)
            cands = self._keep(materialize(minhash_candidates(docs), sp, "candidate_pairs"))
            verified = (
                jaccard_pairs(docs, pairs=cands).where(F.col("jaccard") >= self.THRESHOLD).count()
            )
            sp.count(verified_pairs=verified)
        self.release()
        c = sp.counts["candidate_pairs"]
        return {
            "dedup.candidate_pairs": c,
            "dedup.verified_pairs": verified,
            "dedup.candidate_precision": verified / c if c else 1.0,
        }


# ---------------------------------------------------------------- rag_query


class RagQuery(Workload):
    name = "rag_query"
    WARMUP_OPS = 20
    N_DOCS = 40
    N_QUERIES = 1000
    K = 3
    CHUNK = 512

    def __init__(self, seed, work):
        super().__init__(seed, work)
        texts, _, _ = gen.make_corpus(seed, 3, self.N_DOCS, 0.0)
        self.texts = texts
        self.corpus = os.path.join(work, "corpus")
        gen.write_corpus(texts, self.corpus, 2)
        self.queries = gen.query_spans(texts, self.N_QUERIES, seed, 4)
        self.out = os.path.join(work, "index")
        self.next_q = 0
        self.inputs = {
            "docs": self.N_DOCS,
            "files": 2,
            "text_bytes": sum(len(t.encode()) for t in texts),
            "query_texts": self.N_QUERIES,
            "k": self.K,
            "dim": DIM,
        }

    def setup(self, spark, tr):
        from cli_rag_spark.operators.index import build_index
        from cli_rag_spark.operators.topk import validate_topk
        from cli_rag_spark.sources.documents import load_documents

        with tr.span("index"):
            with _build_index_traced(tr) if tr.enabled else contextlib.nullcontext():
                build_index(
                    load_documents(spark, self.corpus), out_path=self.out, chunk_size=self.CHUNK,
                    chunk_mode="clean", embed_mode="mock", dim=DIM,
                )
        self.release()
        with tr.span("sources.load"):
            self.idx = spark.read.parquet(self.out)
            validate_topk(self.idx, self.K)
        self._query(spark, tr, self.queries[-1])

    def after_setup(self, spark):
        from cli_rag_spark.operators.chunk import cut_clean

        t = pq.read_table(self.out, columns=["id", "chunk_text", "embedding"])
        self.ids = t.column("id").to_numpy()
        self.chunk_texts = t.column("chunk_text").to_pylist()
        emb = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
        expected = sum(len(cut_clean(x, self.CHUNK)) for x in self.texts)
        twins = np.array([twin_embed(x) for x in self.chunk_texts])
        self.index_ok = t.num_rows == expected and np.allclose(emb, twins, atol=1e-9, rtol=0)
        self.pos = {int(i): p for p, i in enumerate(self.ids)}
        self.qvecs = np.array([twin_embed(q) for q in self.queries])
        self.dist = gen.cosine_dist(self.qvecs, emb)
        self.truth = gen.exact_topk(self.dist, self.ids, self.K)
        self.inputs["index_rows"] = int(t.num_rows)
        self.inputs["index_bytes"] = sum(os.path.getsize(f) for f in data_files(self.out))

    def _query(self, spark, tr, text: str):
        """One REPL turn, in the call order of ``cli.cmd_query``."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from cli_rag_spark.operators.context import assemble_context, rag_prompt
        from cli_rag_spark.operators.embed import mock_embed_py
        from cli_rag_spark.operators.topk import topk

        with tr.span("embed.query", stages=False):
            qvec = mock_embed_py(text, DIM)
        with tr.span("topk.plan", stages=False):
            hits = topk(self.idx, qvec, self.K, id_col="id").withColumn(
                "rank", F.row_number().over(Window.orderBy(F.col("dist").asc(), F.col("id").asc()))
            )
        with tr.span("topk.exec"):
            rows = hits.select("rank", "id", "dist", "chunk_text").collect()
        with tr.span("context"):
            ctx = assemble_context(hits.select("rank", F.col("chunk_text").alias("text")), text_col="text")
            prompt = ctx.select(rag_prompt(F.col("context"), F.lit(text)).alias("p")).collect()[0]["p"]
        return qvec, rows, prompt

    def op(self, spark, tr):
        qi = self.next_q % self.N_QUERIES
        self.next_q += 1
        return (qi, *self._query(spark, tr, self.queries[qi]))

    def check(self, result):
        qi, qvec, rows, prompt = result
        text = self.queries[qi]
        rows = sorted(rows, key=lambda r: r["rank"])
        got = [int(r["id"]) for r in rows]

        def dist_of(i):
            p = self.pos.get(int(i))
            return None if p is None else float(self.dist[qi, p])

        truth = [int(x) for x in self.truth[qi]]
        ok = self.index_ok and np.allclose(qvec, self.qvecs[qi], atol=1e-12, rtol=0)
        ok = ok and topk_ok(got, [r["dist"] for r in rows], truth, dist_of)
        ok = ok and all(r["chunk_text"] == self.chunk_texts[self.pos[int(r["id"])]] for r in rows)
        context = " \n ".join(f"Context {r['rank']}:\n{r['chunk_text']}" for r in rows)
        ok = ok and context in prompt and text in prompt
        self.last = {"quality": len(set(got) & set(truth)) / self.K}
        return 1, bool(ok)

    def traced_extras(self, spark, tr):
        """The batch read paths, once per traced run, each on its own
        seeded inputs: one ``batch_rag`` batch (``knn`` and
        ``context.batch``) and one ``ann_batch`` build and probe
        (``ann.*``). Their setup runs untraced; the one operation runs
        in ``tr`` and is checked like the workload's own. Their metrics,
        from that one traced operation, go to ``self.side``."""
        import traceback

        extras = {}
        for cls in (BatchRag, AnnBatch):
            side = cls(self.seed, os.path.join(self.work, cls.name))
            self.inputs[cls.name] = side.inputs
            try:
                side.setup(spark, NullTracer())
                t0 = time.perf_counter()
                result = side.op(spark, tr)
                wall = time.perf_counter() - t0
                _items, ok = side.check(result)
                extras.update(side.traced_extras(spark, tr))
                self.side[cls.name] = {"ok": bool(ok), **side.side_metrics(wall)}
            except Exception:
                traceback.print_exc()
                self.side[cls.name] = {"ok": False}
        return extras


# ---------------------------------------------------------------- vectors

_VID = re.compile(r"\[v(\d+)\]")


class _Vectors(Workload):
    N = 0
    Q = 0
    K = 10
    CLUSTERS = 64
    STREAM = 0

    def __init__(self, seed, work):
        super().__init__(seed, work)
        v = gen.make_vectors(seed, self.STREAM, self.N, self.Q, DIM, self.CLUSTERS, self.K, work, 4)
        self.x = v["x"].astype(np.float64)
        self.q = v["q"].astype(np.float64)
        self.truth = v["truth"]
        self.xn = np.linalg.norm(self.x, axis=1)
        self.qn = np.linalg.norm(self.q, axis=1)
        self.inputs = {
            "N": self.N,
            "Q": self.Q,
            "dim": DIM,
            "k": self.K,
            "clusters": self.CLUSTERS,
            "files": 4,
            "input_bytes": gen.dir_bytes(work),
        }

    def dist_of(self, qi: int):
        def f(i):
            i = int(i)
            if not 0 <= i < self.N:
                return None
            return float(1.0 - self.q[qi] @ self.x[i] / (self.qn[qi] * self.xn[i]))
        return f

    def open_inputs(self, spark, tr):
        with tr.span("sources.load"):
            self.idx = spark.read.parquet(os.path.join(self.work, "index"))
            self.qdf = spark.read.parquet(os.path.join(self.work, "queries.parquet"))


class BatchRag(_Vectors):
    name = "batch_rag"
    WARMUP_OPS = 2
    N = 20000
    Q = 500
    STREAM = 5
    WARM_Q = 20

    def _batch(self, spark, tr, qdf, idx):
        from pyspark.sql import functions as F

        from cli_rag_spark.operators import knn as knn_mod
        from cli_rag_spark.operators.context import assemble_contexts_grouped

        with tr.span("knn") as sp:
            if tr.enabled:
                with _record(sp, knn_mod, "choose_knn_strategy", "strategy"):
                    hits = self._keep(materialize(knn_mod.knn_join_auto(qdf, idx, k=self.K), sp, "hits"))
            else:
                hits = knn_mod.knn_join_auto(qdf, idx, k=self.K)
        with tr.span("context.batch"):
            texts = idx.select("vec_id", F.col("chunk_text").alias("text"))
            rows = assemble_contexts_grouped(hits.join(texts, "vec_id")).collect()
        self.release()
        return rows

    def setup(self, spark, tr):
        self.open_inputs(spark, tr)
        from pyspark.sql import functions as F

        self._batch(spark, tr, self.qdf.where(F.col("query_id") < self.WARM_Q), self.idx)

    def op(self, spark, tr):
        return self._batch(spark, tr, self.qdf, self.idx)

    def check(self, rows):
        ok = len(rows) == self.Q
        recall = 0.0
        for r in rows:
            qi = int(r["query_id"])
            got = [int(m) for m in _VID.findall(r["context"])]
            truth = [int(t) for t in self.truth[qi]]
            f = self.dist_of(qi)
            ok = ok and topk_ok(got, [None] * len(got), truth, f)
            recall += len(set(got) & set(truth)) / self.K
        self.last = {"quality": recall / self.Q}
        return self.Q, bool(ok)

    def traced_extras(self, spark, tr):
        return {"knn.pair_ops": float(self.Q * self.N * DIM)}

    def side_metrics(self, wall: float) -> dict:
        return {"batch_queries_per_s": self.Q / wall, "batch_recall_at_10": self.last["quality"]}


class AnnBatch(_Vectors):
    name = "ann_batch"
    WARMUP_OPS = 1
    N = 1500
    Q = 150
    STREAM = 6
    WARM_N = 300
    WARM_Q = 10

    def _ann(self, spark, tr, vectors, queries, n: int, path: str):
        """build_ivf_index with the default C = sqrt(N), then open it and
        probe with the default n_probe = sqrt(C); returns the hits and
        the build and probe walls."""
        from cli_rag_spark.operators.ann import (
            build_ivf_index, default_n_centroids, default_n_probe, knn_join_ivf, read_ivf_index,
        )

        t0 = time.perf_counter()
        with tr.span("ann.build"):
            build_ivf_index(vectors, path)
        t1 = time.perf_counter()
        c = default_n_centroids(n)
        with tr.span("ann.probe"):
            ivf = read_ivf_index(spark, path, c)
            rows = knn_join_ivf(queries, ivf, self.K, c, default_n_probe(c), validate_cid=False).collect()
        return rows, t1 - t0, time.perf_counter() - t1

    def setup(self, spark, tr):
        from pyspark.sql import functions as F

        self.open_inputs(spark, tr)
        self._ann(
            spark, tr, self.idx.where(F.col("vec_id") < self.WARM_N),
            self.qdf.where(F.col("query_id") < self.WARM_Q), self.WARM_N,
            os.path.join(self.work, "ivf_warm"),
        )

    def op(self, spark, tr):
        return self._ann(spark, tr, self.idx, self.qdf, self.N, os.path.join(self.work, "ivf"))

    def check(self, result):
        rows, build_s, probe_s = result
        by_q: dict[int, list] = {}
        for r in rows:
            by_q.setdefault(int(r["query_id"]), []).append(r)
        ok = set(by_q) <= set(range(self.Q))
        recall = 0.0
        for qi in range(self.Q):
            hits = sorted(by_q.get(qi, []), key=lambda r: r["rank"])
            f = self.dist_of(qi)
            got = [int(r["vec_id"]) for r in hits]
            ok = ok and len(hits) <= self.K and len(set(got)) == len(got)
            ok = ok and [r["rank"] for r in hits] == list(range(1, len(hits) + 1))
            for r in hits:
                d = f(r["vec_id"])
                ok = ok and d is not None and abs(d - r["dist"]) <= 1e-6
            ok = ok and all(a["dist"] <= b["dist"] for a, b in zip(hits, hits[1:]))
            recall += len(set(got) & set(int(t) for t in self.truth[qi])) / self.K
        self.last = {"quality": recall / self.Q, "build_s": build_s, "probe_s": probe_s}
        return self.Q, bool(ok)

    def side_metrics(self, wall: float) -> dict:
        return {
            "ann_build_rows_per_s": self.N / self.last["build_s"],
            "ann_queries_per_s": self.Q / self.last["probe_s"],
            "ann_recall_at_10": self.last["quality"],
        }

    def traced_extras(self, spark, tr) -> dict:
        """List skew and probed candidates, read from the persisted index."""
        from cli_rag_spark.operators.ann import default_n_probe

        path = os.path.join(self.work, "ivf")
        cid = pq.read_table(path, columns=["cid"]).column("cid").to_numpy()
        cent = pq.read_table(os.path.join(path, "_centroids"))
        cids = cent.column("cid").to_numpy()
        cvec = np.array(cent.column("cvec").to_pylist(), dtype=np.float64)
        sizes = np.bincount(cid, minlength=int(cids.max()) + 1)
        d = gen.cosine_dist(self.q, cvec)
        probed = gen.exact_topk(d, cids, default_n_probe(len(cids)))
        cand = sizes[probed].sum(axis=1)
        return {
            "ann.n_centroids": len(cids),
            "ann.list_skew": float(sizes[cids].max() / sizes[cids].mean()),
            "ann.candidates_per_query": float(cand.mean()),
            "ann.candidate_frac": float(cand.mean() / self.N),
        }


WORKLOADS = {w.name: w for w in (Ingest, RagQuery, BatchRag, AnnBatch)}
