"""ingest: one closed-loop client that commits WAL batches and reads
the fresh state after each commit.

Set-up (timed as ``setup_s``) starts the session, registers the WAL data
source, loads the base collection and writes it as snapshot 0.  One
commit cycle (the workload's unit of work):

1. ``write_wal_segments`` writes the batch's upserts, overwrites and
   deletes;
2. the batch is read back through ``WalDataSource``;
3. ``wal_replay``, ``delete_ids_anti`` and ``apply_upserts`` merge it
   into the current state;
4. ``snapshot`` writes the new state and ``restore`` loads it.

Then single requests read the new state: top-10 for a vector the
commit upserted (it must come back first at distance 0), ``POOL_READS``
``=``- or ``!=``-filtered top-10s for held-out queries drawn Zipf-skewed
from a pool (so some repeat within a run), and a point lookup of the ids
the last two commits deleted (none may come back) plus ids the commit
upserted.
Every answer is checked against the expected state in NumPy.

A traced run also checks recovery: after the loop one more batch is
written to the WAL only, and a fresh process restores the last snapshot,
replays that tail and must reproduce the expected state.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import time

import numpy as np

import gen
from common import dir_stats, pct
from materialize import CHECKPOINT, force_plan, materialize

POOL_READS = 3  # filtered pool queries after each commit
DOC_SCHEMA = "vec_id long, label long, embedding array<float>"
QUERY_SCHEMA = "embedding array<float>"


def merge(tr, spark, state, wal_dir):
    """Read one WAL directory and merge it into ``state``."""
    from pyspark.sql import functions as F

    from simple_vector_spark.operators.mutation import apply_upserts, delete_ids_anti, wal_replay

    with tr.span("wal.read") as rd:
        log = materialize(spark.read.format("simple_vector_wal").option("path", wal_dir).load(), CHECKPOINT)
    parsed = log.select("log_id", "op", F.from_json("doc", DOC_SCHEMA).alias("d")).select(
        "log_id", "op", "d.vec_id", "d.label", "d.embedding"
    )
    with tr.span("mutation.wal_replay"):
        ups = force_plan(
            wal_replay(parsed, ["vec_id"], ["log_id"], "op", "delete").select(
                "vec_id", "label", "embedding", F.col("log_id").alias("seq")
            )
        )
    tombstones = parsed.filter(F.col("op") == "delete").select("vec_id")
    with tr.span("mutation.delete_ids_anti"):
        kept = force_plan(delete_ids_anti(state, tombstones, "vec_id"))
    with tr.span("mutation.apply_upserts"):
        merged = force_plan(apply_upserts(kept, ups, ["vec_id"], ["seq"]))
    return merged, log, rd


def write_wal(tr, spark, records, wal_dir):
    from simple_vector_spark.sources.wal_source import WAL_SCHEMA, write_wal_segments

    with tr.span("bench.batch_df"):
        ops = spark.createDataFrame(records, WAL_SCHEMA)
    with tr.span("wal.write_wal_segments") as s:
        write_wal_segments(ops, wal_dir)
    s.attrs["bytes"] = dir_stats(wal_dir)[0]


class Ingest:
    min_ops = 2  # commit cycles

    def __init__(self, cache, seed, work, engine, tr, tally):
        self.work = work
        self.engine, self.tr, self.tally = engine, tr, tally
        self.inp = gen.IngestInputs(cache, seed)
        self.wal = os.path.join(work, "wal")
        self.snaps = os.path.join(work, "snapshots")
        self.c = 0  # last committed snapshot version
        self.space_amps: list[float] = []
        self.read_ms: list[float] = []
        self.recalls: list[float] = []
        self.ops = 0
        self.prev_deleted: list[int] = []

    def _snap(self, c):
        return os.path.join(self.snaps, f"v{c:06d}")

    def setup(self):
        from pyspark.sql import functions as F

        from simple_vector_spark.operators.mutation import restore, snapshot
        from simple_vector_spark.sources.loaders import load_table
        from simple_vector_spark.sources.wal_source import WalDataSource

        spark = self.engine.start()
        spark.dataSource.register(WalDataSource)
        with self.tr.span("loaders.load_table"):
            base = load_table(spark, self.inp.dir, "embeddings")
        shutil.rmtree(self.snaps, ignore_errors=True)
        with self.tr.span("mutation.snapshot"):
            snapshot(base.withColumn("seq", F.lit(0).cast("long")), self._snap(0))
        with self.tr.span("mutation.restore"):
            self.state = restore(spark, self._snap(0))
        self.c = 0

    def warmup(self):
        """One untimed commit cycle and its reads (Python workers, the WAL
        data source's planner, code generation, JIT)."""
        self.op(-1)
        self.space_amps.clear()
        self.read_ms.clear()
        self.recalls.clear()
        self.ops = 0

    def op(self, i) -> float:
        from simple_vector_spark.operators.mutation import restore, snapshot

        self.c += 1
        c = self.c
        spark, tr, inp = self.engine.spark, self.tr, self.inp
        records, upserted, deleted = inp.next_batch(c)
        wal_dir = os.path.join(self.wal, f"c{c:06d}")
        t0 = time.perf_counter()
        with tr.span("bench.commit", req=i):
            write_wal(tr, spark, records, wal_dir)
            merged, log, rd = merge(tr, spark, self.state, wal_dir)
            with tr.span("mutation.snapshot") as snap:
                snapshot(merged, self._snap(c))
            with tr.span("mutation.restore"):
                self.state = restore(spark, self._snap(c))
        latency = time.perf_counter() - t0

        snap_bytes = dir_stats(self._snap(c))[0]
        wal_bytes = dir_stats(wal_dir)[0]
        op_bytes = sum(gen.STATE_BYTES if op == "upsert" else 8 for _, _, op, _ in records)
        snap.attrs["bytes_written"] = snap_bytes
        snap.attrs["write_amp"] = snap_bytes / op_bytes
        if tr.enabled:
            rd.attrs["records"] = log.count()
        self.space_amps.append((snap_bytes + wal_bytes) / inp.logical_bytes())
        self.ops += len(records)
        # the new snapshot covers the WAL batch and the previous snapshot
        shutil.rmtree(wal_dir)
        shutil.rmtree(self._snap(c - 1), ignore_errors=True)
        self._read_after_write(i, upserted, deleted)
        return latency

    def _read_after_write(self, i, upserted, deleted):
        """The reads after a commit, each checked against the expected
        state."""
        from simple_vector_spark.operators.knn import eq_filter, ne_filter, point_lookup

        inp, tr = self.inp, self.tr
        ids, labels, x = inp.matrix()

        fresh = int(np.random.default_rng([inp.seed, 5, self.c]).choice(upserted))
        qv = inp.state[fresh][1]
        rows = self._topk(i, qv, None)
        why = self._check_topk(rows, qv, ids, labels, x)
        if why is None and (rows[0]["vec_id"], rows[0]["dist"]) != (fresh, 0.0):
            why = "upserted vector not found first at distance 0"
        self.tally.check(f"ingest commit {i} top-10 of upserted id {fresh}", why)

        for r in range(POOL_READS):
            j = self.c * POOL_READS + r
            qv, own = inp.query(j)
            if j % 2 == 0:
                label = (own + 1) % gen.N_CLUSTERS
                pred, mask = eq_filter("label", label), labels == label
            else:
                pred, mask = ne_filter("label", own), labels != own
            rows = self._topk(i, qv, pred)
            why = self._check_topk(rows, qv, ids[mask], labels[mask], x[mask])
            self.tally.check(f"ingest commit {i} filtered top-10 of pool draw {j}", why)

        keys = sorted(set(deleted) | set(self.prev_deleted) | set(upserted[:8]))
        t0 = time.perf_counter()
        with tr.span("bench.read", req=i):
            with tr.span("knn.point_lookup.plan"):
                df = force_plan(point_lookup(self.state, keys))
            with tr.span("knn.point_lookup.exec"):
                rows = materialize(df)
        self.read_ms.append((time.perf_counter() - t0) * 1e3)
        self.tally.check(f"ingest commit {i} lookup", self._check_rows(rows, keys))
        self.prev_deleted = deleted

    def _topk(self, i, qv, pred):
        from simple_vector_spark.operators.knn import knn_topk

        tr = self.tr
        t0 = time.perf_counter()
        with tr.span("bench.read", req=i):
            with tr.span("bench.query_df"):
                qdf = self.engine.spark.createDataFrame([(qv.tolist(),)], QUERY_SCHEMA)
            with tr.span("knn.knn_topk.plan"):
                df = force_plan(knn_topk(self.state, qdf, gen.K, pred=pred))
            with tr.span("knn.knn_topk.exec"):
                rows = materialize(df)
        self.read_ms.append((time.perf_counter() - t0) * 1e3)
        return rows

    def _check_topk(self, rows, qv, ids, labels, x):
        """Exact top-10 over the eligible part of the expected state; rows
        must also carry each id's current label.  Records the recall."""
        dist = gen.sqdist(x, qv)
        pairs = [(r["vec_id"], r["dist"]) for r in rows]
        exact, _ = gen.topk(ids, dist)
        self.recalls.append(len(set(exact.tolist()) & {p[0] for p in pairs}) / gen.K)
        why = gen.check_topk(pairs, ids, dist)
        label_of = dict(zip(ids.tolist(), labels.tolist()))
        if why is None and any(r["label"] != label_of[r["vec_id"]] for r in rows):
            why = "row label differs from the state"
        return why

    def _check_rows(self, rows, keys):
        state = self.inp.state
        live = {k for k in keys if k in state}
        got = {r["vec_id"]: r for r in rows}
        if set(got) != live:
            return f"ids {sorted(set(got) ^ live)[:5]} wrong (deleted ids must not come back)"
        for k, r in got.items():
            lab, v, seq = state[k]
            if r["label"] != lab or r["seq"] != seq or not np.array_equal(np.asarray(r["embedding"], np.float32), v):
                return f"record {k} differs"
        return None

    def deep_check(self):
        """Recovery check of a traced run: write a WAL tail past the last
        snapshot, stop this process's engine, and let a fresh process
        restore the snapshot and replay the tail; it must rebuild the
        expected state."""
        records, _, _ = self.inp.next_batch(self.c + 1)
        tail = os.path.join(self.wal, "tail")
        write_wal(self.tr, self.engine.spark, records, tail)
        self.engine.close()
        out = os.path.join(self.work, "recovered.npz")
        cmd = [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py"),
               "--recover", self._snap(self.c), tail, out]
        try:
            subprocess.run(cmd, check=True, timeout=100, stdout=subprocess.DEVNULL)
        except (subprocess.CalledProcessError, subprocess.TimeoutExpired):
            self.tally.error("ingest recovery process")
            return
        z = np.load(out)
        ids, labels, x = self.inp.matrix()
        seqs = [self.inp.state[int(k)][2] for k in ids]
        why = None
        if not np.array_equal(z["ids"], ids):
            why = f"{len(z['ids'])} ids recovered, expected {len(ids)}"
        elif not np.array_equal(z["x"], x):
            why = "vectors differ"
        elif not np.array_equal(z["labels"], labels) or z["seqs"].tolist() != seqs:
            why = "labels or sequence numbers differ"
        self.tally.check("ingest recovery from snapshot + WAL tail", why)

    def metrics(self, lat_ms):
        space = float(np.median(self.space_amps))
        ops_per_s = self.ops / (sum(lat_ms) / 1e3)
        e2e = {
            "op_p50_ms": pct(lat_ms, 50),
            "read_p50_ms": pct(self.read_ms, 50),
            "throughput_per_s": ops_per_s,
            "recall_at_10": float(np.mean(self.recalls)),
            "space_amp": space,
        }
        named = {
            "commit_p50_ms": (e2e["op_p50_ms"], "ms"),
            "ingest_ops_per_s": (ops_per_s, "1/s"),
            "read_after_write_p50_ms": (e2e["read_p50_ms"], "ms"),
            "recall_at_10": (e2e["recall_at_10"], "ratio"),
            "space_amp": (space, "ratio"),
        }
        return e2e, named


def recover(snap, tail, out):
    """Body of the fresh recovery process: restore ``snap``, replay the
    WAL ``tail`` and save the resulting state to ``out``."""
    from common import Engine
    from spans import Tracer
    from simple_vector_spark.operators.mutation import restore
    from simple_vector_spark.sources.wal_source import WalDataSource

    engine = Engine(Tracer())
    try:
        spark = engine.start()
        spark.dataSource.register(WalDataSource)
        merged, _, _ = merge(engine.tr, spark, restore(spark, snap), tail)
        rows = sorted(materialize(merged), key=lambda r: r["vec_id"])
    finally:
        engine.close()
    np.savez(
        out,
        ids=np.array([r["vec_id"] for r in rows], dtype=np.int64),
        labels=np.array([r["label"] for r in rows], dtype=np.int64),
        seqs=np.array([r["seq"] for r in rows], dtype=np.int64),
        x=np.array([r["embedding"] for r in rows], dtype=np.float32).reshape(len(rows), gen.DIM),
    )
