#!/usr/bin/env python3
"""Benchmark of the simple_vector_spark engine.

    python3 perfbench/run.py --workload {batch,ingest} --seed N \\
        --seconds S --trace {0,1}

Run from the root of a checkout.  Inputs are generated from ``--seed``
(see gen.py); every answer is checked against NumPy.  Human-readable
lines go first; the last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics of a traced run
(``--trace 1``).  See README.md in this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3

E2E_UNITS = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "read_p50_ms": "ms",
    "throughput_per_s": "1/s",
    "recall_at_10": "ratio",
    "space_amp": "ratio",
    "retained_mb": "MB",
}
LAYERS = ("bench", "session", "loaders", "knn", "ann", "dedup", "wal", "mutation")


def per_layer(tr, n_ops, overhead_ms, overhead_pct):
    """Per-layer metrics of a traced run: name -> (value, unit).  A
    function the workload does not call reads 0."""
    from gen import K

    ms, cnt = "ms", "count"
    m = {
        "session.get_spark.ms": (tr.median_ms("session.get_spark"), ms),
        "loaders.load_table.ms": (tr.median_ms("loaders.load_table"), ms),
        "loaders.load_table.calls": (len(tr.named("loaders.load_table")), cnt),
    }
    for fn in ("knn.knn_topk", "knn.point_lookup", "knn.knn_join", "ann.ivf_probe_partitioned"):
        m[f"{fn}.plan_ms"] = (tr.median_ms(f"{fn}.plan"), ms)
        m[f"{fn}.exec_ms"] = (tr.median_ms(f"{fn}.exec"), ms)
    for fn in ("knn.knn_topk", "knn.knn_join"):
        m[f"{fn}.jobs"] = (tr.per_call(fn, "jobs", (".plan", ".exec")), cnt)
        m[f"{fn}.tasks"] = (tr.per_call(fn, "tasks", (".plan", ".exec")), cnt)
    m["knn.knn_join.pairs_scored"] = (tr.attr_mean("knn.knn_join.exec", "pairs_scored"), cnt)
    m["ann.ivf_probe_partitioned.rows_scanned_per_result"] = (
        tr.attr_mean("ann.ivf_probe_partitioned.exec", "rows_scanned") / K, cnt)
    for fn in ("ann.train_centroids", "ann.build_ivf_index", "dedup.minhash_signatures",
               "dedup.minhash_candidate_pairs", "dedup.dup_clusters", "wal.write_wal_segments",
               "wal.read", "mutation.wal_replay", "mutation.delete_ids_anti",
               "mutation.apply_upserts", "mutation.snapshot", "mutation.restore"):
        m[f"{fn}.ms"] = (tr.median_ms(fn), ms)
    for fn in ("ann.train_centroids", "dedup.dup_clusters"):
        m[f"{fn}.jobs"] = (tr.per_call(fn, "jobs"), cnt)
    for fn, key, unit in (
        ("ann.build_ivf_index", "bytes_written", "bytes"),
        ("ann.build_ivf_index", "files_written", cnt),
        ("dedup.minhash_candidate_pairs", "candidates", cnt),
        ("dedup.minhash_candidate_pairs", "candidate_precision", "ratio"),
        ("dedup.dup_clusters", "pair_recall", "ratio"),
        ("wal.write_wal_segments", "bytes", "bytes"),
        ("wal.read", "records", cnt),
        ("mutation.snapshot", "bytes_written", "bytes"),
        ("mutation.snapshot", "write_amp", "ratio"),
    ):
        m[f"{fn}.{key}"] = (tr.attr_mean(fn, key), unit)
    m["trace.failed_tasks"] = (sum(s.failed_tasks for s in tr.spans), cnt)
    m["trace.overhead_ms"] = (overhead_ms, ms)
    m["trace.overhead_pct"] = (overhead_pct, "%")
    roots = [s for s in tr.spans if s.parent is None and s.name != "bench.setup"]
    self_ms = tr.self_ms_by_layer(roots)
    for layer in LAYERS:
        m[f"layer.{layer}.self_ms_per_op"] = (self_ms.get(layer, 0.0) / max(1, n_ops), ms)
    return m


def run(args) -> int:
    from common import Engine, Tally, cpu_times, pin_environment

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    cache = os.path.join(ROOT, ".perfbench_cache")
    os.makedirs(work)
    pin_environment(ROOT, work)
    sys.path.insert(0, ROOT)

    from spans import SETUP, Tracer

    if args.workload == "batch":
        from batch import Batch as Workload
    else:
        from ingest import Ingest as Workload

    tr, tally = Tracer(), Tally()
    engine = Engine(tr)
    try:
        wl = Workload(cache, args.seed, work, engine, tr, tally)
        tr.enabled = args.trace
        setup = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            with tr.span(SETUP, req=f"setup{rep}"):
                wl.setup()
            setup.append(time.perf_counter() - t0)
        tr.enabled = False
        t_warm = time.perf_counter()
        wl.warmup()
        print(f"perfbench: set-up {sum(setup):.1f} s, warm-up {time.perf_counter() - t_warm:.1f} s",
              file=sys.stderr)

        # closed loop; a traced run alternates untraced and traced
        # operations and leaves operation 0, still warming the JIT, out of
        # the comparison
        lat, by_mode = [], {False: [], True: []}
        i = 0
        cpu_start = cpu_times()
        t_start = time.perf_counter()
        while True:
            tr.enabled = args.trace and i % 2 == 1
            try:
                lat_s = wl.op(i)
            except Exception:
                tally.error(f"{args.workload} op {i}")
            else:
                lat.append(lat_s * 1e3)
                if i > 0:
                    by_mode[tr.enabled].append(lat_s * 1e3)
            tr.enabled = False
            i += 1
            if (time.perf_counter() - t_start >= args.seconds and i >= wl.min_ops
                    and (not args.trace or i >= 3)):
                break

        if not lat:
            print("perfbench: every operation failed", file=sys.stderr)
            return 1
        t_finish = time.perf_counter()
        steal, total = (b - a for a, b in zip(cpu_start, cpu_times()))
        print(f"perfbench: timed loop {t_finish - t_start:.1f} s, operation ms "
              f"{' '.join('%.0f' % v for v in lat)}, read ms "
              f"{' '.join('%.0f' % v for v in wl.read_ms)}", file=sys.stderr)
        e2e, named = wl.metrics(lat)
        e2e["setup_s"] = statistics.median(setup)
        peak_rss = engine.peak_rss_mb()
        e2e["retained_mb"] = engine.retained_mb()
        if args.trace:
            wl.deep_check()
        tr.resolve()
        print(f"perfbench: finish {time.perf_counter() - t_finish:.1f} s", file=sys.stderr)
    finally:
        engine.close()

    error_rate = tally.failed / max(1, tally.attempted)
    print(f"workload {args.workload} seed {args.seed}: {len(lat)} timed operations, "
          f"{len(wl.read_ms)} timed reads, setup {['%.3f' % s for s in setup]} s")
    named.update({
        "setup_s": (e2e["setup_s"], "s"),
        "retained_mb": (e2e["retained_mb"], "MB"),
        "peak_rss_mb": (peak_rss, "MB"),
        "error_rate": (error_rate, "ratio"),
        "host_cpu_steal": (steal / max(1, total), "ratio"),
    })
    for k, (v, unit) in named.items():
        print(f"  {k:<26} {v:>14.4f} {unit}")

    if args.trace:
        traced, untraced = by_mode[True], by_mode[False]
        over_ms = statistics.median(traced) - statistics.median(untraced)
        over_pct = 100.0 * over_ms / statistics.median(untraced)
        layer = per_layer(tr, len(traced), over_ms, over_pct)
        setup_self = tr.self_ms_by_layer([s for s in tr.spans if s.name == SETUP])
        print(f"  traced run: {len(traced)} traced / {len(untraced)} untraced operations, "
              f"overhead {over_ms:.2f} ms ({over_pct:.2f}%)")
        print(f"  {'layer':<10} {'self ms/op':>12} {'set-up self ms':>16}")
        for name in LAYERS:
            print(f"  {name:<10} {layer[f'layer.{name}.self_ms_per_op'][0]:>12.2f} "
                  f"{setup_self.get(name, 0.0) / SETUP_REPS:>16.2f}")
        trace_path = os.path.join(ROOT, ".perfbench_work", f"trace-{args.workload}-s{args.seed}.jsonl")
        tr.write(trace_path)
        print(f"  spans written to {os.path.relpath(trace_path, ROOT)}")
        metrics = {k: {"value": float(v), "unit": u} for k, (v, u) in layer.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in E2E_UNITS.items()}

    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": metrics,
    }))
    return 0


def main() -> int:
    if len(sys.argv) == 5 and sys.argv[1] == "--recover":
        # the fresh process of the ingest workload's recovery check
        snap, tail, out = sys.argv[2:]
        work = os.path.join(os.path.dirname(out), "recover")
        os.makedirs(work)
        from common import pin_environment

        pin_environment(ROOT, work)
        sys.path.insert(0, ROOT)
        from ingest import recover

        recover(snap, tail, out)
        return 0

    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=("batch", "ingest"))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "simple_vector_spark", "__init__.py")):
        print(f"perfbench: no simple_vector_spark package under {ROOT}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    args.trace = bool(args.trace)
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
