"""Tests of the benchmark's own helpers.

    python3 -m pytest perfbench -q

The materialization tests start a local Spark session (about 15 s).
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from materialize import CHECKPOINT, COLLECT, NOOP, materialize  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from common import Engine, pin_environment
    from spans import Tracer

    cwd = os.getcwd()
    pin_environment(os.path.dirname(HERE), str(tmp_path_factory.mktemp("work")))
    engine = Engine(Tracer())
    try:
        yield engine.start()
    finally:
        engine.close()
        os.chdir(cwd)


def _counted(spark, n):
    """(DataFrame whose column ``x`` is a Python UDF, accumulator counting
    the UDF's calls)."""
    from pyspark.sql import functions as F

    calls = spark.sparkContext.accumulator(0)

    def tick(v):
        calls.add(1)
        return v * 2

    df = spark.range(n).select("id", F.udf(tick, "long")(F.col("id")).alias("x"))
    return df, calls


@pytest.mark.parametrize("how", [COLLECT, NOOP, CHECKPOINT])
def test_materialize_evaluates_projected_columns(spark, how):
    df, calls = _counted(spark, 50)
    materialize(df, how)
    assert calls.value == 50


def test_count_prunes_the_projected_column(spark):
    # why the helper exists: count() never evaluates the measured column
    df, calls = _counted(spark, 50)
    assert df.count() == 50
    assert calls.value == 0


@pytest.mark.parametrize("how", [COLLECT, NOOP, CHECKPOINT])
def test_materialize_surfaces_errors_in_projected_columns(spark, how):
    from pyspark.sql import functions as F

    df = spark.range(20).select(
        "id", F.when(F.col("id") == 7, F.raise_error(F.lit("evaluated"))).alias("x")
    )
    assert df.count() == 20
    with pytest.raises(Exception, match="evaluated"):
        materialize(df, how)


def test_checkpoint_keeps_the_rows(spark):
    df = materialize(spark.range(10).selectExpr("id", "id * id AS sq"), CHECKPOINT)
    assert sorted((r.id, r.sq) for r in df.collect()) == [(i, i * i) for i in range(10)]


def test_check_topk_accepts_truth_and_rejects_wrong_answers():
    rng = np.random.default_rng(0)
    x = rng.standard_normal((200, gen.DIM)).astype(np.float32)
    ids = np.arange(200, dtype=np.int64)
    q = rng.standard_normal(gen.DIM).astype(np.float32)
    d = gen.sqdist(x, q)
    top_ids, top_d = gen.topk(ids, d)
    rows = list(zip(top_ids.tolist(), top_d.tolist()))
    assert gen.check_topk(rows, ids, d) is None
    assert gen.check_topk(rows[:-1], ids, d) is not None  # short
    assert gen.check_topk(rows[1:] + [rows[0]], ids, d) is not None  # unordered
    far = int(np.argmax(d))
    assert gen.check_topk(rows[:-1] + [(far, float(d[far]))], ids, d) is not None  # misses one
    assert gen.check_topk([(i, v + 1e-3) for i, v in rows], ids, d) is not None  # wrong distance


def test_ingest_stream_is_deterministic_and_tracks_state(tmp_path):
    a = gen.IngestInputs(str(tmp_path), seed=3, n=500, batch=40)
    b = gen.IngestInputs(str(tmp_path), seed=3, n=500, batch=40)
    ra, up, dels = a.next_batch(1)
    rb, _, _ = b.next_batch(1)
    assert ra == rb
    assert all(k in a.state for k in up)
    assert not any(k in a.state for k in dels)
    assert [r[0] for r in ra] == list(range(1, len(ra) + 1))  # log ids are monotonic


def test_minhash_reference_finds_planted_duplicates():
    base = " ".join(f"w{i}" for i in range(60))
    near = base.replace("w30", "x30")
    other = " ".join(f"v{i}" for i in range(60))
    pairs = gen.minhash_candidates([(1, base), (2, near), (3, other)])
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)
    assert gen.components(pairs) == {1: 1, 2: 1}
