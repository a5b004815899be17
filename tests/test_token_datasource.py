"""Custom Python Data Source ('wstokens'): the reference's whitespace-
token file scan (1.cpp:248-264) as a splittable Spark source.

The boundary rule (a partition owns tokens that START in its byte
range; mid-token entry skips; the owner reads past its end to finish a
boundary token) must make the result independent of chunk_bytes — the
sweep below covers chunks smaller than a token, chunk edges landing on
whitespace, mid-token, and at EOF.

Inputs are the reference's own word-count fixtures (FIXTURES.md §A).
The small ones (`single`, `repeat`, `num`, `symbol`, `large` and the
empty `notext`) are held byte for byte under `tests/data/reference/`.
`vlarge.txt` is held only in the reference checkout (`REF`); the tests
that read it skip where that file is missing.
"""

from __future__ import annotations

import os

import pytest

from multithreaded_mapreduce_spark.sources.token_datasource import (
    _iter_tokens,
    register_token_source,
)

REF = "/root/reference"
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "reference")
VLARGE = f"{REF}/vlarge.txt"

needs_vlarge = pytest.mark.skipif(
    not os.path.exists(VLARGE), reason=f"reference fixture {VLARGE} is missing"
)


def _direct_tokens(path: str) -> list[str]:
    with open(path, "rb") as f:
        return [t.decode("utf-8", "surrogateescape") for t in f.read().split()]


@needs_vlarge
@pytest.mark.parametrize("chunk", [1, 3, 7, 64, 1024, 1 << 20])
def test_range_iterator_chunk_invariance(chunk):
    """Pure-python check, no Spark: concatenating per-range tokens over
    any chunking reproduces the sequential scan exactly (order included)."""
    path = VLARGE
    size = os.path.getsize(path)
    got: list[str] = []
    for start in range(0, size, chunk):
        got.extend(_iter_tokens(path, start, min(start + chunk, size)))
    assert got == _direct_tokens(path)


@pytest.mark.parametrize("fixture", ["single", "repeat", "num", "symbol", "large"])
def test_small_fixtures_all_boundaries(fixture):
    """Every possible single-split position on the small fixtures.
    Where the reference checkout is present, the committed copy must
    scan to the same tokens as the reference's own file."""
    path = os.path.join(DATA, f"{fixture}.txt")
    size = os.path.getsize(path)
    expect = _direct_tokens(path)
    ref_path = f"{REF}/{fixture}.txt"
    if os.path.exists(ref_path):
        assert _direct_tokens(ref_path) == expect
    for cut in range(1, size):
        got = list(_iter_tokens(path, 0, cut)) + list(_iter_tokens(path, cut, size))
        assert got == expect, f"split at {cut}"


def test_iter_tokens_fuzz_random_bytes():
    """Hypothesis fuzz: arbitrary byte soup (including every whitespace
    kind, empty runs, multi-byte UTF-8 fragments) tokenizes identically
    under any chunking."""
    import tempfile

    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(
        data=st.binary(max_size=300),
        chunk=st.integers(min_value=1, max_value=48),
    )
    def inner(data: bytes, chunk: int):
        fd, path = tempfile.mkstemp(prefix="wstok_fuzz_")
        try:
            with os.fdopen(fd, "wb") as f:
                f.write(data)
            got: list[str] = []
            for start in range(0, len(data), chunk):
                got.extend(_iter_tokens(path, start, min(start + chunk, len(data))))
            expect = [t.decode("utf-8", "surrogateescape") for t in data.split()]
            assert got == expect
        finally:
            os.unlink(path)

    inner()


@needs_vlarge
def test_spark_source_matches_native_text_scan(spark):
    register_token_source(spark)
    df = (
        spark.read.format("wstokens")
        .option("path", VLARGE)
        .option("chunk_bytes", 256)
        .load()
    )
    assert df.rdd.getNumPartitions() > 1  # the split actually happened
    from collections import Counter

    got = Counter(r.token for r in df.collect())
    assert got == Counter(_direct_tokens(VLARGE))
    assert sum(got.values()) == 1095  # reference golden: vlarge1.png


def test_empty_file(spark):
    path = os.path.join(DATA, "notext.txt")
    assert os.path.getsize(path) == 0
    register_token_source(spark)
    df = (
        spark.read.format("wstokens")
        .option("path", path)
        .load()
    )
    assert df.count() == 0


def test_streaming_reader_growing_file_never_splits_tokens():
    """Append-in-progress safety (ADVICE r2): a token touching the
    current EOF must not be emitted until the file is quiescent, so an
    append arriving between triggers extends it instead of splitting it."""
    import tempfile

    from multithreaded_mapreduce_spark.sources.token_datasource import (
        _TokenSimpleStreamReader,
    )

    fd, path = tempfile.mkstemp(prefix="wstok_grow_")
    try:
        with os.fdopen(fd, "wb") as f:
            f.write(b"alpha beta gam")  # 'gam' is mid-append
        r = _TokenSimpleStreamReader({"path": path, "chunk_bytes": 1 << 20})
        off = r.initialOffset()
        rows, off = r.read(off)
        assert [t for (t,) in rows] == ["alpha", "beta"]  # tail held back
        with open(path, "ab") as f:
            f.write(b"ma delta")  # the append completes the token
        rows, off = r.read(off)
        # growth detected: 'gamma' is whitespace-delimited now (safe),
        # 'delta' touches EOF and is held back
        assert [t for (t,) in rows] == ["gamma"]
        rows, off = r.read(off)  # size stable → quiescent tail flush
        assert [t for (t,) in rows] == ["delta"]
        rows, off = r.read(off)
        assert [t for (t,) in rows] == []  # fully drained
    finally:
        os.unlink(path)


@needs_vlarge
def test_streaming_token_source_counts_equal_batch(spark):
    """The streaming reader replays the file in chunk_bytes micro-
    batches; complete-mode counts must equal the batch scan, and the
    tiny chunk forces a genuinely multi-batch replay (offset advance
    exercised, not just one trigger)."""
    path = VLARGE
    register_token_source(spark)
    stream = (
        spark.readStream.format("wstokens")
        .option("path", path)
        .option("chunk_bytes", 1024)  # ~7 KiB file → several batches
        .load()
        .groupBy("token")
        .count()
    )
    q = (
        stream.writeStream.outputMode("complete")
        .format("memory")
        .queryName("wstokens_stream")
        .start()
    )
    try:
        q.processAllAvailable()
        n_batches = q.lastProgress["batchId"] + 1 if q.lastProgress else 0
    finally:
        q.stop()
    assert n_batches >= 3, f"expected a multi-batch replay, got {n_batches}"
    got = {
        r.token: r["count"]
        for r in spark.sql("SELECT * FROM wstokens_stream").collect()
    }
    want_df = (
        spark.read.format("wstokens").option("path", path).load()
        .groupBy("token").count()
    )
    want = {r.token: r["count"] for r in want_df.collect()}
    assert got == want
