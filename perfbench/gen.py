"""Seeded input generator for the perfbench workloads.

Every input a workload feeds the engine is made here from ``--seed``
and written as plain files; the engine sees only those files. The same
seed gives byte-identical files (pyarrow writes no timestamps, numpy
``.npy`` headers are fixed), which ``perfbench/tests`` pins.

Two kinds of input:

* corpora (``ingest``, ``rag_query``): documents of Zipfian words with
  log-normal lengths; in the ingest corpus a share of documents are
  planted near-duplicates (1-3 word edits of an earlier original), whose
  ids are kept as ground truth;
* clustered vectors (``batch_rag``, ``ann_batch``): Gaussian clusters
  stored as ``array<float>`` with a chunk-text column, plus query
  vectors and their exact top-k computed here with numpy.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB_SIZE = 6000
ZIPF_S = 1.1
SHINGLE_WORDS = 3  # dedup_near_auto's default shingle width
# a planted duplicate must stay a duplicate at the workload's 0.8
# threshold: sources are long enough that 3 edits keep Jaccard >= this
MIN_PLANTED_JACCARD = 0.85


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _vocabulary(rng: np.random.Generator) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < VOCAB_SIZE:
        w = "".join(rng.choice(letters, size=int(rng.integers(2, 10))))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _zipf_p(n: int) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** ZIPF_S
    return p / p.sum()


def _shingles(words: list[str]) -> set[str]:
    n = SHINGLE_WORDS
    return {" ".join(words[i:i + n]) for i in range(len(words) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = _shingles(a.split()), _shingles(b.split())
    return len(sa & sb) / len(sa | sb) if sa or sb else 1.0


def _edit(words: list[str], rng, vocab, p) -> list[str]:
    out = list(words)
    for _ in range(int(rng.integers(1, 4))):
        op = int(rng.integers(0, 3))
        i = int(rng.integers(0, len(out)))
        new = vocab[int(rng.choice(len(vocab), p=p))]
        if op == 0:
            out[i] = new if new != out[i] else new + "x"
        elif op == 1:
            out.insert(i, new)
        else:
            del out[i]
    return out


def make_corpus(
    seed: int,
    stream: int,
    n_docs: int,
    dup_frac: float,
    mean_chars: float = 1200.0,
    min_chars: int = 500,
    max_chars: int = 3000,
) -> tuple[list[str], list[int], list[int]]:
    """(texts, planted duplicate ids, their source ids); doc id = list
    position. Lengths are log-normal around ``mean_chars``, clipped to
    [min_chars, max_chars]; words are drawn Zipfian from one seeded
    vocabulary. Each planted duplicate edits an earlier ORIGINAL (never
    another duplicate) and keeps its shingle Jaccard >= 0.85 to it."""
    rng = _rng(seed, stream)
    vocab = _vocabulary(rng)
    p = _zipf_p(len(vocab))
    cdf = np.cumsum(p)
    cdf[-1] = 1.0
    lens = np.array([len(w) for w in vocab])
    # exactly round(dup_frac * n_docs) duplicate slots, none among the
    # first ten; original lengths are log-normal, rescaled to a fixed
    # total, so the seed moves the text but hardly the workload size
    n_dup = int(round(dup_frac * n_docs))
    first = min(10, n_docs - n_dup)
    is_dup = np.zeros(n_docs, dtype=bool)
    is_dup[first + rng.choice(n_docs - first, n_dup, replace=False)] = True
    n_orig = n_docs - n_dup
    lengths = rng.lognormal(np.log(mean_chars), 0.45, n_orig)
    lengths = np.clip(lengths * (mean_chars * n_orig / lengths.sum()), min_chars, max_chars).astype(int)
    texts: list[str] = []
    originals: list[int] = []
    dups: list[int] = []
    sources: list[int] = []
    while len(texts) < n_docs:
        if is_dup[len(texts)]:
            long_enough = [o for o in originals if len(texts[o]) >= 900] or originals
            src = long_enough[int(rng.integers(0, len(long_enough)))]
            text = " ".join(_edit(texts[src].split(), rng, vocab, p))
            if jaccard(text, texts[src]) < MIN_PLANTED_JACCARD:
                continue
            dups.append(len(texts))
            sources.append(src)
            texts.append(text)
            continue
        target = int(lengths[len(originals)])
        # every word is >= 2 letters + a space, so target // 3 draws
        # always reach the target length
        idx = np.searchsorted(cdf, rng.random(target // 3), side="right")
        ends = np.cumsum(lens[idx] + 1) - 1
        words = [vocab[i] for i in idx[: int(np.searchsorted(ends, target)) + 1]]
        originals.append(len(texts))
        texts.append(" ".join(words))
    return texts, dups, sources


def write_corpus(texts: list[str], out_dir: str, n_files: int) -> None:
    """Split a corpus over ``n_files`` parquet files of contiguous ids."""
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, len(texts), n_files + 1).astype(int)
    for f in range(n_files):
        lo, hi = int(bounds[f]), int(bounds[f + 1])
        table = pa.table(
            {
                "doc_id": pa.array(np.arange(lo, hi, dtype=np.int64)),
                "text": pa.array(texts[lo:hi], type=pa.string()),
            }
        )
        pq.write_table(table, os.path.join(out_dir, f"part-{f:04d}.parquet"))


def query_spans(texts: list[str], n: int, seed: int, stream: int) -> list[str]:
    """Seeded word spans (4-12 words) taken from the corpus."""
    rng = _rng(seed, stream)
    out = []
    for _ in range(n):
        words = texts[int(rng.integers(0, len(texts)))].split()
        length = int(rng.integers(4, 13))
        start = int(rng.integers(0, max(1, len(words) - length)))
        out.append(" ".join(words[start:start + length]))
    return out


def cosine_dist(q: np.ndarray, x: np.ndarray) -> np.ndarray:
    """Q x N cosine distances in float64 (the engine's metric)."""
    q = q.astype(np.float64)
    x = x.astype(np.float64)
    qn = np.linalg.norm(q, axis=1)
    xn = np.linalg.norm(x, axis=1)
    return 1.0 - (q @ x.T) / np.outer(qn, xn)


def exact_topk(dist: np.ndarray, ids: np.ndarray, k: int) -> np.ndarray:
    """Per-row top-k ids by (distance rounded to 6 digits, id) — the
    engine's deterministic tie rule."""
    d = np.round(dist, 6)
    kth = np.partition(d, k - 1, axis=1)[:, k - 1]
    out = np.empty((d.shape[0], k), dtype=np.int64)
    for r in range(d.shape[0]):
        cand = np.nonzero(d[r] <= kth[r])[0]
        out[r] = ids[cand[np.lexsort((ids[cand], d[r, cand]))][:k]]
    return out


def make_vectors(
    seed: int,
    stream: int,
    n: int,
    q: int,
    dim: int,
    clusters: int,
    k: int,
    out_dir: str,
    n_files: int,
) -> dict:
    """Clustered index vectors with a chunk-text column, query vectors
    near random cluster centres, and the exact top-k ground truth.
    Each chunk text carries its id as ``[v<id>]`` so an assembled
    context can be traced back to the ranked ids."""
    rng = _rng(seed, stream)
    centres = rng.normal(size=(clusters, dim))
    x = (centres[rng.integers(0, clusters, n)] + 0.5 * rng.normal(size=(n, dim))).astype(np.float32)
    qv = (centres[rng.integers(0, clusters, q)] + 0.5 * rng.normal(size=(q, dim))).astype(np.float32)
    ids = np.arange(n, dtype=np.int64)
    letters = np.array(list("abcdefghij"))
    words = rng.choice(letters, size=(n, 6, 5))
    texts = [f"[v{i}] " + " ".join("".join(w) for w in words[i]) for i in range(n)]
    os.makedirs(out_dir, exist_ok=True)
    index_dir = os.path.join(out_dir, "index")
    os.makedirs(index_dir, exist_ok=True)
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    for f in range(n_files):
        lo, hi = int(bounds[f]), int(bounds[f + 1])
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(ids[lo:hi]),
                    "embedding": pa.array(list(x[lo:hi]), type=pa.list_(pa.float32())),
                    "chunk_text": pa.array(texts[lo:hi], type=pa.string()),
                }
            ),
            os.path.join(index_dir, f"part-{f:04d}.parquet"),
        )
    pq.write_table(
        pa.table(
            {
                "query_id": pa.array(np.arange(q, dtype=np.int64)),
                "query_vec": pa.array(list(qv), type=pa.list_(pa.float32())),
            }
        ),
        os.path.join(out_dir, "queries.parquet"),
    )
    dist = cosine_dist(qv, x)
    truth = exact_topk(dist, ids, k)
    np.save(os.path.join(out_dir, "truth_ids.npy"), truth)
    return {"x": x, "q": qv, "truth": truth, "texts": texts}


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total
