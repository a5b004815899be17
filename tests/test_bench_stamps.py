"""bench.py's decision stamps come from the headline runs' per-query
decision records, so nothing the session runs later — the 10× scale
sweep included — can change them. No SparkSession needed: the queries
are stubs that record decisions through the real registry wrapper."""

from __future__ import annotations

import importlib.util
import os
from types import SimpleNamespace

from multithreaded_mapreduce_spark.plans import decisions
from multithreaded_mapreduce_spark.plans.registry import _with_cache_release

BENCH_PY = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench.py")


def _bench():
    spec = importlib.util.spec_from_file_location("bench", BENCH_PY)
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    return bench


class _Sink:
    """Stands in for ``df`` in ``df.write.mode(..).format(..).save()``."""

    @property
    def write(self):
        return self

    def mode(self, _m):
        return self

    def format(self, _f):
        return self

    def save(self):
        pass


_SPARK = SimpleNamespace(catalog=SimpleNamespace(clearCache=lambda: None))


def _components(n_groups: int) -> SimpleNamespace:
    """A registered-query stub whose build records a jaccard decision."""

    def build(spark, sf_dir):
        decisions.note("jaccard", {"n_groups": n_groups, "use_broadcast": n_groups < 50})
        return _Sink()

    return SimpleNamespace(builder=_with_cache_release(build))


def test_stamps_are_read_before_the_scale_sweep(monkeypatch, tmp_path):
    """The headline stamps are built from the headline records; the
    real scale sweep then runs builds that record different values, and
    the stamps built from the same records are unchanged."""
    bench = _bench()
    monkeypatch.setattr(bench, "HEADLINE", ("dedup_components",))
    monkeypatch.setattr(bench, "SCALE_SWEEP_QUERIES", ("dedup_components",))
    _, records = bench._time_headline(
        _SPARK, "sf", {"dedup_components": _components(7)}, per_pass=1
    )
    stamps = bench._decision_stamps(records)
    assert stamps["jaccard_auto_decision"] == {"n_groups": 7, "use_broadcast": True}
    assert set(stamps) == {
        "containment_auto_decision",
        "jaccard_auto_decision",
        "ngram_dfcut_auto_decision",
        "eval_sample_decision",
        "cc_bcast_auto_decision",
    }
    assert stamps["containment_auto_decision"] is None  # its query never ran

    # an existing replica marker skips generation
    (tmp_path / "embeddings.parquet").write_text("")
    monkeypatch.setenv("MMR_SCALE_DIR", str(tmp_path))
    sweep = bench._scale_sweep(_SPARK, "sf", {"dedup_components": _components(70)})
    assert set(sweep["queries"]) == {"dedup_components"}
    assert decisions.record()["jaccard"]["n_groups"] == 70  # the sweep did run
    assert bench._decision_stamps(records) == stamps


def test_record_is_frozen_after_its_build():
    """A record captured after one top-level build does not change when
    the next build runs; the next build gets a record of its own."""
    first_q, second_q = _components(7), _components(70)
    first_q.builder(None, "sf")
    first = decisions.record()
    second_q.builder(None, "sf")
    assert first == {"jaccard": {"n_groups": 7, "use_broadcast": True}}
    assert decisions.record() == {"jaccard": {"n_groups": 70, "use_broadcast": False}}
