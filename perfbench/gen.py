"""Seeded input generator and NumPy ground truth for the benchmark.

Everything the engine is fed comes from here, derived from ``--seed``
alone; the engine never sees the seed.  Inputs are written as parquet
under a per-seed cache directory (outside the tracked tree) so a repeat
run with the same seed reuses them.

Ground truth is computed with the same arithmetic the engine uses:
float32 vectors widened to float64, squared L2 accumulated dimension by
dimension from 0.0 (the left fold of ``functions.vector.squared_l2``),
results ranked by distance then id.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
N_CLUSTERS = 16
K = 10
VEC_BYTES = 8 + 8 + 4 * DIM  # logical row: vec_id, label, float32 vector
STATE_BYTES = VEC_BYTES + 8  # ingest state rows also carry their WAL seq

BATCH_N = 10_000
BATCH_QUERIES = 16  # the knn_join batch; BATCH_PROBES of them also probe the IVF index
BATCH_PROBES = 4
BATCH_DOCS = 800
BATCH_DUP_GROUPS = 64

INGEST_BASE = 5_000
INGEST_BATCH = 400
INGEST_POOL = 64  # held-out query vectors, drawn Zipf-skewed so some repeat

# MinHash parameters of functions.text (the reference for candidate pairs)
_MH_P = 2_147_483_647
_MH_A = [1000003, 1000033, 1000037, 1000039, 1000081, 1000099, 1000117, 1000121]
_MH_B = [12345, 23456, 34567, 45678, 56789, 67890, 78901, 89012]
_ROWS_PER_BAND = 2


# ---------------------------------------------------------------- vectors

def _centers(rng: np.random.Generator) -> np.ndarray:
    return rng.standard_normal((N_CLUSTERS, DIM)) * 2.0


def _points(rng, centers, n):
    labels = rng.integers(0, N_CLUSTERS, n)
    x = centers[labels] + rng.standard_normal((n, DIM))
    return x.astype(np.float32), labels.astype(np.int64)


def sqdist(m: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Squared L2 of every row of ``m`` to ``q`` in float64, summed in
    dimension order like the engine's ``aggregate(zip_with(...))``."""
    m = np.asarray(m, dtype=np.float64)
    q = np.asarray(q, dtype=np.float64)
    acc = np.zeros(len(m))
    for d in range(m.shape[1]):
        t = m[:, d] - q[d]
        acc += t * t
    return acc


def topk(ids: np.ndarray, dist: np.ndarray, k: int = K):
    """Exact top-k by (distance rounded to 6 places, id)."""
    r = np.round(dist, 6)
    order = np.lexsort((ids, r))[:k]
    return ids[order], r[order]


def check_topk(rows, ids, dist, k=K, tol=2e-6) -> str | None:
    """Check one top-k response against every eligible candidate.

    ``rows`` are (id, dist) pairs as returned; ``ids``/``dist`` are all
    eligible ids and their exact distances.  Tolerant only to ties and
    last-place rounding: returned distances must match the truth to
    ``tol``, be ascending, and no eligible id may be closer than the
    returned k-th distance by more than ``tol`` yet missing.  Returns a
    reason string on mismatch, else None."""
    want = min(k, len(ids))
    if len(rows) != want:
        return f"{len(rows)} rows, expected {want}"
    got_ids = np.array([r[0] for r in rows], dtype=np.int64)
    got_d = np.array([r[1] for r in rows], dtype=np.float64)
    if len(set(got_ids.tolist())) != len(got_ids):
        return "duplicate ids"
    if np.any(np.diff(got_d) < -tol):
        return "not ascending"
    pos = {int(i): n for n, i in enumerate(ids.tolist())}
    idx = [pos.get(int(i)) for i in got_ids]
    if any(p is None for p in idx):
        return "id outside the eligible set"
    if np.any(np.abs(dist[idx] - got_d) > tol):
        return "distance mismatch"
    if want:
        missing = set(ids[dist < got_d[-1] - tol].tolist()) - set(got_ids.tolist())
        if missing:
            return f"missing closer ids {sorted(missing)[:3]}"
    return None


def ivf_cells(x: np.ndarray, cents) -> tuple[np.ndarray, np.ndarray]:
    """Nearest-centroid cell of every row (distance rounded to 6 places,
    ties to the smaller cell id) and the margin to the runner-up."""
    cids = np.array([cid for cid, _ in cents], dtype=np.int64)
    d = np.round(np.stack([sqdist(x, cv) for _, cv in cents], axis=1), 6)
    order = np.lexsort((np.broadcast_to(cids, d.shape), d), axis=1)
    rows = np.arange(len(x))
    best = d[rows, order[:, 0]]
    return cids[order[:, 0]], d[rows, order[:, 1]] - best


def check_cells(x, ids, cells: dict[int, int], cents, tol=2e-6) -> str | None:
    """Every vector indexed once, in its nearest cell (near-ties either way)."""
    if len(cells) != len(ids) or set(cells) != set(ids.tolist()):
        return f"index holds {len(cells)} ids, expected {len(ids)}"
    want, margin = ivf_cells(x, cents)
    got = np.array([cells[int(i)] for i in ids])
    bad = (got != want) & (margin > tol)
    return f"{int(bad.sum())} vectors in the wrong cell" if bad.any() else None


def probe_cells(cents, qv: list[float], nprobe: int) -> list[int]:
    """The cells ``ann.ivf_probe_partitioned`` scans for query ``qv``:
    the same Python arithmetic, restated."""

    def sq(a, b):
        return round(sum((x - y) * (x - y) for x, y in zip(a, b)), 6)

    return [cid for cid, _ in sorted(cents, key=lambda c: (sq(c[1], qv), c[0]))[:nprobe]]


def _zipf(rng, n, size, s=1.1):
    w = 1.0 / np.arange(1, n + 1) ** s
    perm = rng.permutation(n)
    return perm[rng.choice(n, size=size, p=w / w.sum())]


def _write_vectors(path, ids, labels, x, files=4):
    """Parquet table (vec_id, label, embedding array<float>) in ``files``
    part files, so the scan is split across the benchmark's cores."""
    os.makedirs(path, exist_ok=True)
    for f, sl in enumerate(np.array_split(np.arange(len(ids)), files)):
        emb = pa.FixedSizeListArray.from_arrays(pa.array(x[sl].ravel()), DIM)
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(ids[sl], pa.int64()),
                    "label": pa.array(labels[sl], pa.int64()),
                    "embedding": emb.cast(pa.list_(pa.float32())),
                }
            ),
            os.path.join(path, f"part-{f:03d}.parquet"),
        )


class _Cache:
    """Per-seed input directory; ``ready`` once a complete set exists."""

    def __init__(self, root, name):
        self.dir = os.path.join(root, name)
        self._mark = os.path.join(self.dir, "_COMPLETE")

    @property
    def ready(self):
        return os.path.exists(self._mark)

    def reset(self):
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)

    def seal(self):
        open(self._mark, "w").close()


# ---------------------------------------------------------------- batch

def _tokens(text):
    return [t for t in re.split(r"\s+", text.lower()) if t != ""]


def minhash_candidates(docs: list[tuple[int, str]]) -> set[tuple[int, int]]:
    """Reference for dedup.minhash_candidate_pairs: 3-word shingles,
    md5-prefix hashes, 8 affine min-hashes, 4 bands of 2 rows; pairs of
    docs sharing any band bucket."""
    buckets: dict[tuple[int, str], list[int]] = {}
    for doc_id, text in docs:
        toks = _tokens(text)
        if len(toks) < 3:
            continue
        hs = [
            int(hashlib.md5(" ".join(toks[i : i + 3]).encode()).hexdigest()[:8], 16)
            for i in range(len(toks) - 2)
        ]
        mh = [min((a * h + b) % _MH_P for h in hs) for a, b in zip(_MH_A, _MH_B)]
        for band in range(len(mh) // _ROWS_PER_BAND):
            key = "_".join(str(v) for v in mh[band * _ROWS_PER_BAND : (band + 1) * _ROWS_PER_BAND])
            buckets.setdefault((band, key), []).append(doc_id)
    pairs = set()
    for members in buckets.values():
        members = sorted(set(members))
        for i, a in enumerate(members):
            for b in members[i + 1 :]:
                pairs.add((a, b))
    return pairs


def components(pairs) -> dict[int, int]:
    """node -> smallest node id of its connected component."""
    parent: dict[int, int] = {}

    def find(v):
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


class BatchInputs:
    """Clustered corpus + held-out query batch + a document set with
    planted near-duplicate groups (copies of one base text with 1-3
    words substituted)."""

    def __init__(self, cache_root, seed, n=BATCH_N, n_docs=BATCH_DOCS):
        c = _Cache(cache_root, f"batch-s{seed}-n{n}-d{n_docs}")
        if not c.ready:
            c.reset()
            rng = np.random.default_rng([seed, 2])
            centers = _centers(rng)
            x, labels = _points(rng, centers, n)
            qx, _ = _points(rng, centers, BATCH_QUERIES)
            _write_vectors(os.path.join(c.dir, "embeddings.parquet"), np.arange(n), labels, x)
            _write_vectors(
                os.path.join(c.dir, "queries.parquet"),
                np.arange(BATCH_QUERIES), np.zeros(BATCH_QUERIES, np.int64), qx, files=1,
            )
            docs, planted = _documents(rng, n_docs)
            pq.write_table(
                pa.table({"doc_id": pa.array([d for d, _ in docs], pa.int64()),
                          "text": pa.array([t for _, t in docs], pa.string())}),
                os.path.join(c.dir, "documents.parquet"),
            )
            np.savez(os.path.join(c.dir, "inputs.npz"), x=x, labels=labels, qx=qx)
            with open(os.path.join(c.dir, "dedup.json"), "w") as fh:
                json.dump({"planted": sorted(planted),
                           "candidates": sorted(minhash_candidates(docs))}, fh)
            c.seal()
        z = np.load(os.path.join(c.dir, "inputs.npz"))
        self.dir = c.dir
        self.x, self.labels, self.qx = z["x"], z["labels"], z["qx"]
        self.ids = np.arange(len(self.x), dtype=np.int64)
        self.n_docs = n_docs
        self.seed_ids = [int(np.flatnonzero(self.labels == c)[0]) for c in range(N_CLUSTERS)]
        with open(os.path.join(c.dir, "dedup.json")) as fh:
            d = json.load(fh)
        self.planted = {tuple(p) for p in d["planted"]}
        self.candidates = {tuple(p) for p in d["candidates"]}
        self.clusters = components(self.candidates)


def _documents(rng, n_docs):
    vocab = [f"w{i}" for i in range(5000)]
    texts: list[str] = []
    groups: list[list[int]] = []
    while len(texts) < n_docs:
        base = list(rng.choice(vocab, rng.integers(40, 80)))
        texts.append(" ".join(base))
        if len(groups) < BATCH_DUP_GROUPS:
            members = [len(texts) - 1]
            for _ in range(int(rng.integers(1, 4))):
                v = list(base)
                for p in rng.choice(len(v), int(rng.integers(1, 4)), replace=False):
                    v[p] = str(rng.choice(vocab))
                texts.append(" ".join(v))
                members.append(len(texts) - 1)
            groups.append(members)
    texts = texts[:n_docs]
    doc_ids = rng.permutation(n_docs).astype(np.int64)
    planted = set()
    for g in groups:
        ids = sorted(int(doc_ids[m]) for m in g if m < n_docs)
        planted.update((a, b) for i, a in enumerate(ids) for b in ids[i + 1 :])
    return [(int(doc_ids[i]), t) for i, t in enumerate(texts)], planted


# ---------------------------------------------------------------- ingest

class IngestInputs:
    """Base state, a held-out query pool, and a deterministic stream of
    WAL op batches.

    Batch ``c`` mixes inserts of new ids, overwrites and deletes of live
    ids, and a few second ops on a key already touched in the batch (so
    latest-wins inside one log matters).  ``next_batch`` applies each
    batch to ``state``, the expected state every commit is checked
    against."""

    def __init__(self, cache_root, seed, n=INGEST_BASE, batch=INGEST_BATCH):
        c = _Cache(cache_root, f"ingest-s{seed}-n{n}")
        if not c.ready:
            c.reset()
            rng = np.random.default_rng([seed, 3])
            centers = _centers(rng)
            x, labels = _points(rng, centers, n)
            pool, pool_labels = _points(rng, centers, INGEST_POOL)
            _write_vectors(os.path.join(c.dir, "embeddings.parquet"), np.arange(n), labels, x)
            np.savez(os.path.join(c.dir, "inputs.npz"), x=x, labels=labels, centers=centers,
                     pool=pool, pool_labels=pool_labels, queries=_zipf(rng, INGEST_POOL, 4096))
            c.seal()
        z = np.load(os.path.join(c.dir, "inputs.npz"))
        self.dir = c.dir
        self.seed = seed
        self.batch = batch
        self.centers = z["centers"]
        self.pool, self.pool_labels, self.queries = z["pool"], z["pool_labels"], z["queries"]
        # expected state: id -> (label, vector, seq)
        self.state = {
            int(i): (int(lab), v, 0) for i, (lab, v) in enumerate(zip(z["labels"], z["x"]))
        }
        self.next_id = n
        self.log_id = 0

    def next_batch(self, commit: int):
        """WAL records (log_id, version, op, doc) of commit ``commit``,
        plus (upserted ids, deleted ids).  Applies them to the expected
        state."""
        rng = np.random.default_rng([self.seed, 4, commit])
        live = np.fromiter(self.state.keys(), dtype=np.int64)
        n_ins = self.batch // 2
        n_upd = self.batch * 3 // 10
        n_del = self.batch - n_ins - n_upd
        touched = rng.choice(live, n_upd + n_del, replace=False)
        ops = [("upsert", self.next_id + j) for j in range(n_ins)]
        ops += [("upsert", int(k)) for k in touched[:n_upd]]
        ops += [("delete", int(k)) for k in touched[n_upd:]]
        self.next_id += n_ins
        order = rng.permutation(len(ops))
        ops = [ops[o] for o in order]
        # a few keys get a second op later in the same batch
        for o in rng.choice(len(ops), 8, replace=False):
            ops.append(("upsert" if rng.random() < 0.5 else "delete", ops[o][1]))
        records, upserted, deleted = [], set(), set()
        for op, key in ops:
            self.log_id += 1
            if op == "upsert":
                lab = int(rng.integers(0, N_CLUSTERS))
                v = (self.centers[lab] + rng.standard_normal(DIM)).astype(np.float32)
                doc = json.dumps({"vec_id": key, "label": lab,
                                  "embedding": [float(f) for f in v]})
                self.state[key] = (lab, v, self.log_id)
                upserted.add(key)
                deleted.discard(key)
            else:
                doc = json.dumps({"vec_id": key})
                self.state.pop(key, None)
                deleted.add(key)
                upserted.discard(key)
            records.append((self.log_id, commit, op, doc))
        return records, sorted(upserted), sorted(deleted)

    def query(self, j):
        """(vector, cluster label) of the j-th Zipf draw from the pool."""
        q = int(self.queries[j % len(self.queries)])
        return self.pool[q], int(self.pool_labels[q])

    def matrix(self):
        """(ids, labels, vectors) of the expected state, by id."""
        ids = np.fromiter(sorted(self.state), dtype=np.int64)
        labels = np.array([self.state[int(i)][0] for i in ids], dtype=np.int64)
        return ids, labels, np.stack([self.state[int(i)][1] for i in ids])

    def logical_bytes(self):
        return len(self.state) * STATE_BYTES
