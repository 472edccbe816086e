"""batch: one offline pipeline run from input to result.

Set-up (timed as ``setup_s``) starts the session and loads the corpus,
the query batch and the documents.  One pass (the workload's unit of
work) trains IVF centroids and builds the partitioned index, sends
``BATCH_PROBES`` single IVF probe requests (nprobe 3) to the new index,
runs an exact k-NN join for the query batch, then computes MinHash
signatures, candidate pairs and duplicate clusters.  Results are checked
against NumPy after the pass is timed.

Before timing, one untimed pass over a slice of the inputs pays the
first-use costs (JIT, code generation, Python worker start), which
otherwise take about half of a pass and vary from run to run.
"""

from __future__ import annotations

import os
import time

import numpy as np

import gen
from common import dir_stats, pct, read_index_cells, scanned_rows
from materialize import NOOP, force_plan, materialize

TRAIN_ITERS = 1
NPROBE = 3
WARM_VECTORS = 1_000  # the warm-up pass runs on ids below these
WARM_DOCS = 100
PAIR_SCHEMA = "doc_a long, doc_b long"
QUERY_SCHEMA = "embedding array<float>"


def probe_queries(i):
    """Held-out queries probed in pass ``i``: the next ``BATCH_PROBES``
    of the batch, round robin."""
    return [(i * gen.BATCH_PROBES + j) % gen.BATCH_QUERIES for j in range(gen.BATCH_PROBES)]


class Batch:
    min_ops = 1  # passes

    def __init__(self, cache, seed, work, engine, tr, tally):
        self.inp = gen.BatchInputs(cache, seed)
        self.engine, self.tr, self.tally = engine, tr, tally
        self.index = os.path.join(work, "ivf_index")
        self.passes: list[dict] = []
        self.read_ms: list[float] = []
        self.recalls: list[float] = []

    def setup(self):
        from simple_vector_spark.sources.loaders import load_table

        spark = self.engine.start()
        with self.tr.span("loaders.load_table"):
            self.corpus = load_table(spark, self.inp.dir, "embeddings")
        with self.tr.span("loaders.load_table"):
            self.queries = load_table(spark, self.inp.dir, "queries")
        with self.tr.span("loaders.load_table"):
            self.docs = load_table(spark, self.inp.dir, "documents")

    def warmup(self):
        from pyspark.sql import functions as F

        ids = F.col("vec_id")
        self._pass(-1, self.corpus.filter((ids < WARM_VECTORS) | ids.isin(self.inp.seed_ids)),
                   self.docs.filter(F.col("doc_id") < WARM_DOCS), [0])

    def _pass(self, i, corpus, docs, queries):
        """Run one pass probing the held-out ``queries``; returns its spans
        and results for the checks (None for the warm-up, ``i`` < 0)."""
        from simple_vector_spark.operators.ann import build_ivf_index, ivf_probe_partitioned, train_centroids
        from simple_vector_spark.operators.dedup import (
            dup_clusters,
            minhash_candidate_pairs,
            minhash_signatures,
        )
        from simple_vector_spark.operators.knn import knn_join

        spark, tr, inp = self.engine.spark, self.tr, self.inp
        with tr.span("bench.pass", req=i):
            with tr.span("ann.train_centroids") as train:
                cents = train_centroids(corpus, seed_ids=inp.seed_ids, iters=TRAIN_ITERS)
            with tr.span("ann.build_ivf_index") as build:
                build_ivf_index(corpus, cents, self.index)
            probes = []
            for qi in queries:
                t1 = time.perf_counter()
                with tr.span("bench.read"):
                    with tr.span("bench.query_df"):
                        qdf = spark.createDataFrame([(inp.qx[qi].tolist(),)], QUERY_SCHEMA)
                    with tr.span("ann.ivf_probe_partitioned.plan"):
                        df = force_plan(ivf_probe_partitioned(spark, self.index, qdf, cents, gen.K, nprobe=NPROBE))
                    with tr.span("ann.ivf_probe_partitioned.exec") as ex:
                        rows = materialize(df)
                if i >= 0:
                    self.read_ms.append((time.perf_counter() - t1) * 1e3)
                if tr.enabled:
                    ex.attrs["rows_scanned"] = scanned_rows(df)
                probes.append((qi, rows))
            with tr.span("knn.knn_join.plan") as jplan:
                df = force_plan(knn_join(corpus, self.queries, gen.K))
            with tr.span("knn.knn_join.exec") as jexec:
                join_rows = materialize(df)
            with tr.span("dedup.minhash_signatures") as sigs:
                materialize(minhash_signatures(docs), NOOP)
            if i < 0:
                # the warm-up pass ends here: candidate pairs reuse the
                # signatures' UDF, and dup_clusters costs its ~30 small
                # jobs whether cold or warm
                return None
            with tr.span("dedup.minhash_candidate_pairs") as cand:
                pairs = materialize(minhash_candidate_pairs(docs))
            with tr.span("bench.pairs_df"):
                pairs_df = spark.createDataFrame([(r["doc_a"], r["doc_b"]) for r in pairs], PAIR_SCHEMA)
            with tr.span("dedup.dup_clusters") as clus:
                clusters = materialize(dup_clusters(pairs_df))
        spans = {"train": train, "build": build, "jplan": jplan, "jexec": jexec,
                 "sigs": sigs, "cand": cand, "clus": clus}
        return spans, cents, probes, join_rows, pairs, clusters

    def op(self, i) -> float:
        inp = self.inp
        t0 = time.perf_counter()
        sp, cents, probes, join_rows, pairs, clusters = self._pass(i, self.corpus, self.docs, probe_queries(i))
        latency = time.perf_counter() - t0

        build, cand, clus = sp["build"], sp["cand"], sp["clus"]
        build.attrs["bytes_written"], build.attrs["files_written"] = dir_stats(self.index)
        sp["jexec"].attrs["pairs_scored"] = len(inp.qx) * len(inp.ids)
        found = {(r["doc_a"], r["doc_b"]) for r in pairs}
        cand.attrs["candidates"] = len(found)
        cand.attrs["candidate_precision"] = len(found & inp.planted) / max(1, len(found))
        cluster_of = {r["node"]: r["cluster"] for r in clusters}
        clus.attrs["pair_recall"] = sum(
            1 for a, b in inp.planted if a in cluster_of and cluster_of.get(a) == cluster_of.get(b)
        ) / len(inp.planted)
        self.passes.append({
            "build_s": (sp["train"].ms + build.ms) / 1e3,
            "join_s": (sp["jplan"].ms + sp["jexec"].ms) / 1e3,
            "dedup_s": (sp["sigs"].ms + cand.ms + clus.ms) / 1e3,
            "pair_recall": clus.attrs["pair_recall"],
        })
        self._check(i, cents, probes, join_rows, found, cluster_of)
        return latency

    def _check(self, i, cents, probes, join_rows, pairs, cluster_of):
        inp, tally = self.inp, self.tally
        cells = read_index_cells(self.index)
        tally.check(f"batch pass {i} index", gen.check_cells(inp.x, inp.ids, cells, cents))
        cell_of = np.array([cells.get(int(v), -1) for v in inp.ids])
        for qi, rows in probes:
            qv = inp.qx[qi]
            probe = gen.probe_cells(cents, qv.tolist(), NPROBE)
            m = np.isin(cell_of, probe)
            pairs_q = [(r["vec_id"], r["dist"]) for r in rows]
            why = gen.check_topk(pairs_q, inp.ids[m], gen.sqdist(inp.x[m], qv))
            if why is None and any(r["cell"] not in probe for r in rows):
                why = "row outside the probed cells"
            exact, _ = gen.topk(inp.ids, gen.sqdist(inp.x, qv))
            self.recalls.append(len(set(exact.tolist()) & {p[0] for p in pairs_q}) / gen.K)
            tally.check(f"batch pass {i} IVF probe {qi}", why)
        by_query: dict[int, list] = {}
        for r in join_rows:
            by_query.setdefault(r["query_id"], []).append(r)
        for qid, qv in enumerate(inp.qx):
            rows = sorted(by_query.get(qid, []), key=lambda r: r["rnk"])
            why = gen.check_topk([(r["vec_id"], r["dist"]) for r in rows], inp.ids, gen.sqdist(inp.x, qv))
            tally.check(f"batch pass {i} knn_join query {qid}", why)
        why = None if pairs == inp.candidates else (
            f"{len(pairs - inp.candidates)} unexpected, {len(inp.candidates - pairs)} missing pairs")
        tally.check(f"batch pass {i} candidate pairs", why)
        why = None if cluster_of == inp.clusters else "clusters differ from the pair graph's components"
        tally.check(f"batch pass {i} dup clusters", why)

    def deep_check(self):
        pass

    def metrics(self, lat_ms):
        inp = self.inp
        p50 = pct(lat_ms, 50)
        records = len(inp.ids) + len(inp.qx) + inp.n_docs
        med = {k: float(np.median([p[k] for p in self.passes])) for k in self.passes[0]}
        e2e = {
            "op_p50_ms": p50,
            "read_p50_ms": pct(self.read_ms, 50),
            "throughput_per_s": records / (p50 / 1e3),
            "recall_at_10": float(np.mean(self.recalls)),
            "space_amp": dir_stats(self.index)[0] / (len(inp.ids) * gen.VEC_BYTES),
        }
        named = {
            "pass_p50_ms": (p50, "ms"),
            "build_vectors_per_s": (len(inp.ids) / med["build_s"], "1/s"),
            "ivf_probe_p50_ms": (e2e["read_p50_ms"], "ms"),
            "ivf_recall_at_10": (e2e["recall_at_10"], "ratio"),
            "knn_pairs_per_s": (len(inp.qx) * len(inp.ids) / med["join_s"], "1/s"),
            "dedup_docs_per_s": (inp.n_docs / med["dedup_s"], "1/s"),
            "dedup_pair_recall": (med["pair_recall"], "ratio"),
        }
        return e2e, named
