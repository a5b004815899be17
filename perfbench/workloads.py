"""The benchmark's workloads: their inputs, operations and output
checks.

The benchmark's single client submits an operation, waits for its
result, then submits the next. Each workload is a list of operations run
as one *pass*; the run repeats passes until its measuring time is used
up. Operations are grouped into client *requests*, whose latencies
``query_p50_s`` takes the median of: a catalog query is a request of its
own, a pipeline stage (ingest, curate, publish) is one request.
Operations call only the package's public surface: registry builders,
``plans.caching``, ``sinks`` and ``streaming``.
"""

from __future__ import annotations

import hashlib
import os
import time
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.dataset as pads

import gen
from spans import OpRecord, force_phases

from multithreaded_mapreduce_spark.operators import dedup
from multithreaded_mapreduce_spark.plans import caching
from multithreaded_mapreduce_spark.plans.verification import (
    compare_query,
    duck_connection,
    rows_multiset,
)
from multithreaded_mapreduce_spark.sinks import (
    compact_parquet,
    write_clustered_parquet,
    write_zordered_parquet,
)
from multithreaded_mapreduce_spark.sources.tables import load_table
from multithreaded_mapreduce_spark.streaming.events import (
    stream_events_multibatch,
    tumbling_counts_stream,
)
from multithreaded_mapreduce_spark.streaming.sinks import run_stream_to_parquet

#: result memos the package keeps (``plans.caching.result_memo_stats``)
MEMO_NAMES = ("quality_gates", "jaccard_pairs", "jaccard_doc_components", "minhash_verified_pairs")

#: catalog-cold: oracle-bearing headline queries, one per operator
#: family (text, TPC-H aggregate and joins, windows, event time,
#: sessionization, bucketed sources, SQL front-end, media codec); the
#: seed shuffles their order
CATALOG_QUERIES = (
    "wordcount",
    "q1_pricing_summary",
    "topk_parts_per_brand",
    "events_tumbling_hourly",
    "user_sessions",
    "bucketed_join_order_revenue",
    "sql_q5_local_supplier_volume",
    "media_png_roundtrip",
)
CATALOG_SF, CATALOG_TINY_SF = 0.01, 0.001

#: daily-pipeline curates with the connected-components trio: the three
#: share one memoized label pass, so the first query misses and the
#: other two hit
PIPELINE_TRIO = ("dedup_components", "cluster_aware_split", "dedup_cluster_keep_best")
PIPELINE_SF, PIPELINE_TINY_SF = 0.01, 0.001
#: its documents: a Zipf corpus with planted near-duplicates
PIPELINE_DOCS, PIPELINE_TINY_DOCS = 1500, 150
STREAM_BATCHES = 4


@dataclass
class Ctx:
    """What an operation needs: the session, the registry, where its
    inputs and outputs live, and whether this pass is traced."""

    spark: object
    queries: dict
    data_dir: str
    out_dir: str
    traced: bool = False
    corpus: gen.CorpusShape | None = None
    pass_no: int = 0
    #: this pass's results so far, by operation name
    results: dict | None = None


@dataclass
class Op:
    name: str
    run: Callable[[Ctx, OpRecord], object]
    check: Callable[[Ctx, object], list[str]] | None = None
    cold: bool = True  # release result memos and the SQL cache first
    layer: str = "operators"
    request: str = ""  # the client request it belongs to; its own name if empty


def release(ctx: Ctx, cold: bool) -> None:
    caching.release_tracked()
    if cold:
        caching.release_result_memos()
        ctx.spark.catalog.clearCache()


def memo_counts() -> tuple[int, int]:
    hits = misses = 0
    for name in MEMO_NAMES:
        s = caching.result_memo_stats(name) or {}
        hits += s.get("hits", 0)
        misses += s.get("misses", 0)
    return hits, misses


def _timed(rec: OpRecord, name: str, fn, *args):
    t = time.perf_counter()
    try:
        return fn(*args)
    finally:
        rec.spans[name] = (t, time.perf_counter())


# ---------------------------------------------------------------- queries


def query_op(name: str, *, cold: bool = True, check=None, request: str = "") -> Op:
    def run(ctx: Ctx, rec: OpRecord) -> pa.Table:
        df = _timed(rec, "build", ctx.queries[name].builder, ctx.spark, ctx.data_dir)
        if ctx.traced:
            rec.phases_s = _timed(rec, "plan", force_phases, df)
        table = _timed(rec, "execute", df.toArrow)
        rec.result_rows = table.num_rows
        return table

    return Op(name, run, check or oracle_check(name), cold=cold, request=request)


def oracle_check(name: str):
    """The registry's DuckDB oracle, through ``compare_query``, against
    the result the timed operation already returned."""

    def check(ctx: Ctx, table: pa.Table) -> list[str]:
        try:
            compare_query(
                ctx.spark, ctx.data_dir,
                lambda spark, _d: spark.createDataFrame(table),
                ctx.queries[name].oracle,
            )
        except AssertionError as e:
            return [f"{name}: {e}"[:500]]
        return []

    return check


# --------------------------------------------------------------- pipeline


def _token_sets(data_dir: str) -> dict[int, set[str]]:
    docs = pads.dataset(os.path.join(data_dir, "documents.parquet")).to_table(["doc_id", "text"])
    return {d: set(t.split()) for d, t in zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist())}


def _connected(members: list[int], sets: dict[int, set[str]], thr: float) -> bool:
    """Whether ``members`` form one component of the Jaccard >= thr graph."""
    seen, todo = {members[0]}, [members[0]]
    while todo:
        a = todo.pop()
        for b in members:
            if b not in seen and len(sets[a] & sets[b]) >= thr * len(sets[a] | sets[b]):
                seen.add(b)
                todo.append(b)
    return len(seen) == len(members)


def components_check(ctx: Ctx, table: pa.Table) -> list[str]:
    """``dedup_components`` against the planted near-duplicates and the
    exact Jaccard: every planted pair at or over the threshold shares a
    component, every component is connected by such pairs, and its id
    is its smallest member."""
    thr = dedup.JACCARD_THRESHOLD
    label = dict(zip(table["doc_id"].to_pylist(), table["cluster_id"].to_pylist()))
    errors = [f"dedup_components: planted pair {(s, d)} not in one component"
              for s, d, j, _, _ in ctx.corpus.planted
              if j >= thr and (s not in label or label[s] != label.get(d))]
    groups: dict[int, list[int]] = {}
    for doc, cid in label.items():
        groups.setdefault(cid, []).append(doc)
    sets = _token_sets(ctx.data_dir)
    errors += [f"dedup_components: component {cid} is not min-labelled and connected"
               for cid, members in groups.items()
               if cid != min(members) or not _connected(members, sets, thr)]
    return errors[:5]


def _labels(ctx: Ctx) -> dict[int, int]:
    """Component of every document, from this pass's (checked)
    ``dedup_components`` result; singletons are their own component."""
    comp = ctx.results["dedup_components"]
    label = dict(zip(comp["doc_id"].to_pylist(), comp["cluster_id"].to_pylist()))
    docs = pads.dataset(os.path.join(ctx.data_dir, "documents.parquet")).to_table(["doc_id"])
    return {d: label.get(d, d) for d in docs["doc_id"].to_pylist()}


def split_check(ctx: Ctx, table: pa.Table) -> list[str]:
    """``cluster_aware_split``: each document carries its component and
    the md5-uniform split of that component (the oracle's rule)."""
    want = {}
    for doc, cid in _labels(ctx).items():
        h = int(hashlib.md5(f"split:{cid}".encode()).hexdigest()[:dedup.SPLIT_HEX_DIGITS], 16)
        train = h * dedup.SPLIT_TRAIN_DEN < dedup.SPLIT_TRAIN_NUM * 16 ** dedup.SPLIT_HEX_DIGITS
        want[doc] = (cid, "train" if train else "holdout")
    got = {r["doc_id"]: (r["cluster_id"], r["split"]) for r in table.to_pylist()}
    bad = [d for d in want if got.get(d) != want[d]] + [d for d in got if d not in want]
    return [f"cluster_aware_split: doc {d} got {got.get(d)}, want {want.get(d)}" for d in bad[:5]]


def keep_best_check(ctx: Ctx, table: pa.Table) -> list[str]:
    """``dedup_cluster_keep_best``: each component keeps exactly its
    longest member (smallest id on ties) and drops the rest."""
    labels = _labels(ctx)
    docs = pads.dataset(os.path.join(ctx.data_dir, "documents.parquet")).to_table(["doc_id", "n_chars"])
    n_chars = dict(zip(docs["doc_id"].to_pylist(), docs["n_chars"].to_pylist()))
    best: dict[int, int] = {}
    for doc, cid in labels.items():
        cur = best.get(cid)
        if cur is None or (-n_chars[doc], doc) < (-n_chars[cur], cur):
            best[cid] = doc
    want = {doc: (cid, best[cid] == doc) for doc, cid in labels.items()}
    got = {r["doc_id"]: (r["cluster_id"], r["keep"]) for r in table.to_pylist()}
    bad = [d for d in want if got.get(d) != want[d]] + [d for d in got if d not in want]
    return [f"dedup_cluster_keep_best: doc {d} got {got.get(d)}, want {want.get(d)}" for d in bad[:5]]


def _canon_digest(table: pa.Table) -> tuple[int, str]:
    """Row count and an order-insensitive content digest."""
    cols = sorted(table.column_names)
    rows = [tuple(r[c] for c in cols) for r in table.to_pylist()]
    h = hashlib.md5("\n".join(rows_multiset(cols, rows)).encode())
    return table.num_rows, h.hexdigest()


def _read_dir(path: str) -> pa.Table:
    return pads.dataset(path, format="parquet").to_table()


def _written(path: str) -> tuple[int, int]:
    files = [os.path.join(r, f) for r, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")]
    return len(files), sum(os.path.getsize(f) for f in files)


def _pass_dir(ctx: Ctx, name: str) -> str:
    return os.path.join(ctx.out_dir, f"pass{ctx.pass_no}", name)


def ingest_op() -> Op:
    """``events`` replayed as micro-batches through the tumbling-window
    stream into the checkpointed parquet sink."""

    def run(ctx: Ctx, rec: OpRecord) -> str:
        out = _pass_dir(ctx, "hourly")
        stream = _timed(rec, "build", lambda: tumbling_counts_stream(
            stream_events_multibatch(ctx.spark, ctx.data_dir, n_files=STREAM_BATCHES)))
        _timed(rec, "execute", run_stream_to_parquet, stream, out, _pass_dir(ctx, "ckpt"))
        return out

    def check(ctx: Ctx, out: str) -> list[str]:
        got = _read_dir(out)
        con = duck_connection(ctx.data_dir)
        want = con.execute(ctx.queries["events_tumbling_hourly"].oracle).fetch_arrow_table()
        (max_ts,) = con.execute("SELECT max(ts) FROM events").fetchone()
        con.close()
        # append mode publishes a window once the watermark (10 minutes
        # behind the newest event) has passed its end
        from datetime import timedelta

        cutoff = max_ts - timedelta(minutes=70)
        keep = [i for i, w in enumerate(want["window_start"].to_pylist())
                if w.replace(tzinfo=None) <= cutoff]
        want = want.take(keep)
        g = _canon_digest(got.select(sorted(want.column_names)))
        w = _canon_digest(want.select(sorted(want.column_names)))
        if g != w:
            return [f"stream sink: {g[0]} rows vs oracle {w[0]} finalized windows, digests differ"]
        return []

    return Op("ingest_tumbling_stream", run, check, cold=True, layer="streaming", request="ingest")


def publish_ops() -> list[Op]:
    def compact(ctx: Ctx, rec: OpRecord):
        src, out = ctx.results["ingest_tumbling_stream"], _pass_dir(ctx, "compacted")
        _timed(rec, "execute", lambda: compact_parquet(ctx.spark.read.parquet(src), out, target_files=2))
        rec.files_written, rec.bytes_written = _written(out)
        return (src, out)

    def clustered(ctx: Ctx, rec: OpRecord):
        out = _pass_dir(ctx, "split_clustered")
        src = ctx.results["cluster_aware_split"]
        df = ctx.spark.createDataFrame(src)
        _timed(rec, "execute", lambda: write_clustered_parquet(
            df, out, (src.column_names[0],), num_files=4))
        rec.files_written, rec.bytes_written = _written(out)
        return (src, out)

    def zordered(ctx: Ctx, rec: OpRecord):
        out = _pass_dir(ctx, "events_zorder")
        df = load_table(ctx.spark, ctx.data_dir, "events")
        _timed(rec, "execute", lambda: write_zordered_parquet(
            df, out, ("user_id", "value"), num_files=4))
        rec.files_written, rec.bytes_written = _written(out)
        return (os.path.join(ctx.data_dir, "events.parquet"), out)

    def same_content(ctx: Ctx, pair) -> list[str]:
        src, out = pair
        a = src if isinstance(src, pa.Table) else _read_dir(src)
        b = _read_dir(out).select(a.column_names)
        if _canon_digest(a) != _canon_digest(b):
            return [f"published {os.path.basename(out)}: rows/digest differ from its source"]
        return []

    return [
        Op("publish_compact", compact, same_content, cold=False, layer="sinks", request="publish"),
        Op("publish_clustered", clustered, same_content, cold=False, layer="sinks", request="publish"),
        Op("publish_zordered", zordered, same_content, cold=False, layer="sinks", request="publish"),
    ]


# -------------------------------------------------------------- workloads


class Workload:
    """A named list of operations plus the inputs they read."""

    name = ""

    def __init__(self, seed: int, tiny: bool = False) -> None:
        self.seed = seed
        self.tiny = tiny  # smoke-test input sizes
        self.rng = np.random.default_rng([seed, 3])

    def generate(self, out_dir: str) -> dict:
        """Write the inputs; returns their ``rows`` and ``bytes``."""
        raise NotImplementedError

    def spark_stage(self, ctx: Ctx) -> None:
        """Input staging that needs the session (not repeated)."""

    def ops(self) -> list[Op]:
        raise NotImplementedError


class CatalogCold(Workload):
    name = "catalog-cold"

    def __init__(self, seed: int, tiny: bool = False) -> None:
        super().__init__(seed, tiny)
        order = self.rng.permutation(len(CATALOG_QUERIES))
        self._ops = [query_op(CATALOG_QUERIES[i]) for i in order]

    def generate(self, out_dir: str) -> dict:
        gen.write_star_schema(out_dir, self.seed, CATALOG_TINY_SF if self.tiny else CATALOG_SF)
        return gen.dir_stats(out_dir)

    def spark_stage(self, ctx: Ctx) -> None:
        from multithreaded_mapreduce_spark.operators.bucketing import ensure_bucketed_tables

        ensure_bucketed_tables(ctx.spark, ctx.data_dir)

    def ops(self) -> list[Op]:
        return self._ops


class DailyPipeline(Workload):
    name = "daily-pipeline"

    def __init__(self, seed: int, tiny: bool = False) -> None:
        super().__init__(seed, tiny)
        checks = (components_check, split_check, keep_best_check)
        self._ops = [ingest_op()]
        self._ops += [query_op(q, cold=False, check=c, request="curate")
                      for q, c in zip(PIPELINE_TRIO, checks)]
        self._ops += publish_ops()

    def generate(self, out_dir: str) -> dict:
        """The ten tables, with ``documents`` replaced by a Zipf
        corpus; also returns the corpus ``shape`` (its planted pairs)."""
        gen.write_star_schema(out_dir, self.seed, PIPELINE_TINY_SF if self.tiny else PIPELINE_SF)
        shape = gen.write_zipf_corpus(out_dir, self.seed, PIPELINE_TINY_DOCS if self.tiny else PIPELINE_DOCS)
        if shape.distinct_tokens <= dedup.SETMASK_MAX_VOCAB:
            raise SystemExit(
                f"daily-pipeline: {shape.distinct_tokens} distinct tokens do not exceed "
                f"SETMASK_MAX_VOCAB={dedup.SETMASK_MAX_VOCAB}; the run would not reach "
                "the real-vocabulary branch"
            )
        return {**shape.summary(), **gen.dir_stats(out_dir), "shape": shape}

    def spark_stage(self, ctx: Ctx) -> None:
        # the micro-batch split of events is written once per input
        stream_events_multibatch(ctx.spark, ctx.data_dir, n_files=STREAM_BATCHES)

    def ops(self) -> list[Op]:
        return self._ops


WORKLOADS = {w.name: w for w in (CatalogCold, DailyPipeline)}
