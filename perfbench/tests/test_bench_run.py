"""End to end on a tiny synthetic graph: every op passes its oracle, and a
corrupted output is counted as a failure (nonzero error rate)."""

import os

import pytest
from pyspark.sql import functions as F

import run
import workloads

TINY = workloads.Spec("tiny", "synthetic", 300, "fixed", ("wcc", "cdlp", "triangles", "checkpoint_run", "resume"))


@pytest.fixture(scope="module")
def bench(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("perfbench"))
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(root, d))
    b = run.Bench(TINY, seed=3, cores=2, root=root)
    inputs, _, _ = b.setup("0")
    b.expected = workloads.expected_for(inputs, TINY)
    b.inputs = inputs
    yield b
    b.stop_session()


def _pass(bench):
    times, r = bench.timed_pass(bench.inputs)
    times.update(bench.run_ops(r, TINY.traced_ops))
    r.release()
    return times, r


def test_every_op_matches_its_oracle(bench):
    times, r = _pass(bench)
    assert bench.ledger.failures == []
    assert set(times) == set(workloads.TIMED_OPS + TINY.traced_ops)
    assert bench.ledger.error_rate == 0.0
    assert r.info["pagerank_steps"] == workloads.PR_ROUNDS
    assert [m["iteration"] for m in r.info["resume_runner"].metrics] == list(range(5, 10))


@pytest.mark.parametrize("op,col", [("wcc", "comp"), ("cdlp", "label"), ("pagerank", "rank")])
def test_corrupted_output_counts_as_failed(bench, monkeypatch, op, col):
    real = getattr(workloads, op)

    def corrupted(*a, **kw):
        out = real(*a, **kw)
        return out.withColumn(col, F.when(F.col("vid") == 7, F.col(col) + 1).otherwise(F.col(col)))

    monkeypatch.setattr(workloads, op, corrupted)
    before = len(bench.ledger.failures)
    _pass(bench)
    new = bench.ledger.failures[before:]
    assert any(f.startswith(f"{op}:") for f in new), new
    assert bench.ledger.error_rate > 0
