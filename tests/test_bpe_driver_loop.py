"""r10 optimization-round test: the driver-side BPE merge loop
(operators/corpus_ops.py::_bpe_train) must be value-identical to the
distributed per-round loop it replaces under the measured vocab
ceiling — same argmax tie-break (max count, then lexicographic l, r),
same greedy left-to-right non-overlap fold, same final word relation.
"""

from __future__ import annotations

import pytest

import multithreaded_mapreduce_spark.operators.corpus_ops as co
from multithreaded_mapreduce_spark.plans import decisions
from multithreaded_mapreduce_spark.plans.caching import (
    release_result_memos,
    release_tracked,
)
from multithreaded_mapreduce_spark.plans.registry import all_queries

from .conftest import SF_DIR

_Q = all_queries()


def _rows(spark, name, sf_dir):
    release_tracked()
    release_result_memos()
    spark.catalog.clearCache()
    return sorted(tuple(r) for r in _Q[name].builder(spark, sf_dir).collect())


@pytest.mark.parametrize("name", ["bpe_learn_merges", "bpe_encode_corpus"])
def test_driver_loop_matches_distributed(spark, name):
    with decisions.forced(bpe_driver={"driver_loop": False}):
        off = _rows(spark, name, SF_DIR)
    assert decisions.record()["bpe_driver"]["driver_loop"] is False
    on = _rows(spark, name, SF_DIR)
    assert decisions.record()["bpe_driver"]["driver_loop"] is True
    assert off == on and len(on) > 0


def test_vocab_ceiling_disengages(spark, monkeypatch):
    monkeypatch.setattr(co, "BPE_DRIVER_VOCAB_MAX", 0)
    got = _rows(spark, "bpe_learn_merges", SF_DIR)
    assert decisions.record()["bpe_driver"]["driver_loop"] is False
    assert len(got) == co.BPE_MERGE_ROUNDS
