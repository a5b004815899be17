"""bench.py's decision stamps come from the headline runs' per-query
decision records, so nothing the session runs later — the 10× scale
sweep included — can change them, and its memo stamps count the hits
and misses of their own chain. No SparkSession needed: the queries are
stubs that record decisions and memo lookups through the real registry
wrapper."""

from __future__ import annotations

import importlib.util
import json
import os
from types import SimpleNamespace

from multithreaded_mapreduce_spark.plans import caching, decisions
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
    monkeypatch.setattr(bench, "codegen_compiles", lambda spark: 0)
    _, records, _ = bench._time_headline(
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


def _memo_query(outcomes: dict[str, str], cc_seed: bool = False) -> SimpleNamespace:
    """A registered-query stub whose build counts one memo lookup per
    entry of ``outcomes`` (memo name -> "hits" or "misses")."""

    def build(spark, sf_dir):
        for memo, outcome in outcomes.items():
            caching._MEMO_STATS.setdefault(memo, {"key": "k", "hits": 0, "misses": 0})[outcome] += 1
        if cc_seed:
            decisions.note("cc_seed", {"seeded": False, "source": "plain"})
        return _Sink()

    return SimpleNamespace(builder=_with_cache_release(build))


def test_memo_stamps_count_their_own_chain(monkeypatch):
    """Each memo stamp keeps its key set and reports the hits and
    misses of its own chain, not the process-wide counters (which here
    start at 9 misses, as after a headline sweep)."""
    from multithreaded_mapreduce_spark.operators import dedup

    bench = _bench()
    monkeypatch.setattr(caching, "_MEMO_STATS", {
        m: {"key": "k", "hits": 0, "misses": 9}
        for m in ("jaccard_doc_components", "jaccard_pairs", "minhash_verified_pairs", "quality_gates")
    })
    monkeypatch.setattr(dedup, "_jaccard_pairs_memo", lambda spark, sf_dir: SimpleNamespace(count=lambda: 0))
    miss, hit = "misses", "hits"
    queries = {
        "dedup_components": _memo_query({"jaccard_doc_components": miss}, cc_seed=True),
        "cluster_aware_split": _memo_query({"jaccard_doc_components": hit}),
        "dedup_cluster_keep_best": _memo_query({"jaccard_doc_components": hit}),
        "dedup_threshold_sweep": _memo_query({"jaccard_pairs": miss}),
        "kfold_leakage_report": _memo_query({"jaccard_pairs": hit}),
        "lsh_recall_report": _memo_query({"jaccard_pairs": hit, "minhash_verified_pairs": miss}),
        "dedup_minhash_verified": _memo_query({"minhash_verified_pairs": hit}),
        "doc_quality_composite": _memo_query({"quality_gates": miss}),
        "quality_gate_agreement": _memo_query({"quality_gates": hit}),
        "quality_weighted_sample": _memo_query({"quality_gates": hit}),
    }
    stamps = bench._memo_stamps(_SPARK, "sf", queries)
    assert {k: set(v) for k, v in stamps.items()} == {
        "cc_memo_decision": {"trio_seconds", "trio_total", "stats"},
        "cc_seed_decision": {"plain_seconds", "k1_memo_build_seconds", "seeded_seconds", "decision"},
        "pairs_memo_decision": {"trio_seconds", "trio_total", "trio_stats"},
        "banding_memo_decision": {"k1_pair_seconds", "k1_pair_total", "k1_pair_stats"},
        "quality_memo_decision": {"trio_seconds", "trio_total", "trio_stats"},
    }
    assert list(stamps) == [
        "cc_memo_decision", "cc_seed_decision", "pairs_memo_decision",
        "banding_memo_decision", "quality_memo_decision",
    ]
    one_miss_two_hits = {"hits": 2, "misses": 1}
    assert stamps["cc_memo_decision"]["stats"] == one_miss_two_hits
    assert set(stamps["cc_memo_decision"]["trio_seconds"]) == {
        "dedup_components", "cluster_aware_split", "dedup_cluster_keep_best",
    }
    assert stamps["cc_seed_decision"]["decision"] == {"seeded": False, "source": "plain"}
    assert stamps["pairs_memo_decision"]["trio_stats"] == {
        "jaccard_pairs": one_miss_two_hits,
        "minhash_verified_pairs": {"hits": 0, "misses": 1},
    }
    assert stamps["banding_memo_decision"]["k1_pair_stats"] == {
        "jaccard_pairs": {"hits": 1, "misses": 0},
        "minhash_verified_pairs": {"hits": 1, "misses": 1},
    }
    assert stamps["quality_memo_decision"]["trio_stats"] == one_miss_two_hits


class _StubSpark:
    """The session calls bench.py's ``main`` makes, as no-ops."""

    catalog = _SPARK.catalog

    def range(self, _n):
        return SimpleNamespace(selectExpr=lambda *_: SimpleNamespace(collect=lambda: []))

    def stop(self):
        pass


def test_codegen_compiles_stamp_counts_each_headline_sweep(monkeypatch, tmp_path, capsys):
    """A stubbed ``main``: every query "compiles" one class the first
    time it is built. The stamp holds each sweep's compile delta — the
    warm-up's builds excluded — and sits ahead of the tail keys, so the
    stdout tail still ends with ``value``."""
    from multithreaded_mapreduce_spark.operators import bucketing

    bench = _bench()
    built: set[str] = set()

    def query(name):
        def build(spark, sf_dir):
            built.add(name)
            return _Sink()

        return SimpleNamespace(builder=build)

    names = set(bench.HEADLINE) | {"media_png_roundtrip", "media_jpeg_roundtrip"}
    monkeypatch.setattr(bench, "get_spark", lambda app: _StubSpark())
    monkeypatch.setattr(bench, "all_queries", lambda: {n: query(n) for n in names})
    monkeypatch.setattr(bench, "codegen_compiles", lambda spark: len(built))
    monkeypatch.setattr(bench, "_memo_stamps", lambda spark, sf_dir, queries: {})
    monkeypatch.setattr(bucketing, "ensure_bucketed_tables", lambda spark, sf_dir: None)
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "sf")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_RUNS", "2")
    monkeypatch.setenv("MMR_BENCH_SCALE_SWEEP", "off")
    bench.main()

    line = capsys.readouterr().out.strip().splitlines()[-1]
    result = json.loads(line)
    warmed = {"wordcount", "media_png_roundtrip", "media_jpeg_roundtrip"}
    assert result["codegen_compiles"] == [len(set(bench.HEADLINE) - warmed), 0]
    keys = list(result)
    assert keys.index("scale_sweep") < keys.index("codegen_compiles") < keys.index("runs_per_query")
    assert keys[-2:] == ["value", "sf"]
    assert '"value"' in line[-2000:]
    assert (tmp_path / "bench_result.json").read_text().strip() == line
