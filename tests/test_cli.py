"""CLI entry point: catalog listing (Spark-free) and arg handling.

The Spark-dependent subcommands (count-file, run) are exercised by the
word_count / format_console unit tests plus manual runs; spawning a
JVM per CLI test would dominate suite time for no extra coverage.
"""

from __future__ import annotations

import pytest

from multithreaded_mapreduce_spark.__main__ import main


def test_list_prints_catalog(capsys):
    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert "wordcount  [oracle]" in out
    assert "dedup_minhash_lsh  [rows-only]" in out
    assert len(out.strip().splitlines()) >= 100


def test_requires_subcommand():
    with pytest.raises(SystemExit):
        main([])


def test_count_manual_sentinel_semantics(monkeypatch, capsys, spark):
    """Manual-entry mode: tokens after the literal END are ignored and
    END itself is not counted (reference 1.cpp:239-247); output format
    is the reference's `word: count` lines in ascending byte order."""
    import io

    monkeypatch.setattr("sys.stdin", io.StringIO("B a 007 a END never"))
    assert main(["count-manual"]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert out == ["007: 1", "a: 2", "b: 1"]


def test_cli_verify_subcommand(capsys, spark, sf_dir):
    """`verify` runs the oracle gate on demand: MATCH for an
    oracle-bearing query, rows-only notice otherwise, exit 2 on an
    unknown name."""
    assert main(["verify", "wordcount", sf_dir]) == 0
    assert "MATCH" in capsys.readouterr().out
    assert main(["verify", "dedup_minhash_lsh", sf_dir]) == 0
    assert "rows-only" in capsys.readouterr().out
    assert main(["verify", "nosuch"]) == 2


def test_cli_explain_prints_decision_record(capsys, spark, sf_dir):
    """`explain` ends with the build's decision record as one JSON line,
    memo outcomes included."""
    import json

    from multithreaded_mapreduce_spark.plans.caching import release_result_memos

    def explained_record(name: str) -> dict:
        assert main(["explain", name, sf_dir]) == 0
        (line,) = [
            ln for ln in capsys.readouterr().out.splitlines() if ln.startswith("-- decisions: ")
        ]
        return json.loads(line[len("-- decisions: "):])

    assert "use_prefix" in explained_record("dedup_containment")["containment"]
    release_result_memos()
    assert explained_record("doc_quality_composite")["memo"] == {"quality_gates": "miss"}
