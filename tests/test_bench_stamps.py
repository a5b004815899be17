"""bench.py's decision stamps describe the benched corpus, not the 10×
replica the scale sweep runs afterwards. No SparkSession needed: the
sweep is stubbed."""

from __future__ import annotations

import importlib.util
import os

import multithreaded_mapreduce_spark.operators.dedup as dd

BENCH_PY = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench.py")


def _bench():
    spec = importlib.util.spec_from_file_location("bench", BENCH_PY)
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    return bench


def test_stamps_are_read_before_the_scale_sweep(monkeypatch):
    bench = _bench()
    monkeypatch.delenv("MMR_BENCH_SCALE_SWEEP", raising=False)
    monkeypatch.setattr(dd, "LAST_JACCARD_DECISION", {"n_groups": 7, "use_broadcast": True})

    def sweep(spark, sf_dir, queries):
        dd.LAST_JACCARD_DECISION = {"n_groups": 70, "use_broadcast": False}
        return {"queries": {}}

    monkeypatch.setattr(bench, "_scale_sweep", sweep)
    stamps, sweep_stamp = bench._stamps_then_sweep(None, "sf", {})
    assert sweep_stamp == {"queries": {}}
    assert dd.LAST_JACCARD_DECISION["n_groups"] == 70  # the sweep did run
    assert stamps["jaccard_auto_decision"] == {"n_groups": 7, "use_broadcast": True}
