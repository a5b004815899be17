"""Parquet table sources for the driver's synthetic star schema.

Schemas are self-describing (Parquet footers) — the engine does no
inference of its own, mirroring how the reference's schema is fixed
rather than discovered (reference ``1.cpp:18-35``: two hard-coded
structs). Reading through ``spark.read.parquet`` keeps column pruning
and predicate pushdown available to every downstream query.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..plans.decisions import note

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to always broadcast in joins at any SF
# (region=5 rows, nation=25 rows at every scale; customer/supplier/part
# scale but stay orders of magnitude below the fact tables).
BROADCAST_DIMS: frozenset[str] = frozenset({"region", "nation", "supplier", "part", "customer"})


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


#: (realpath(sf_dir), table) -> (session, dataset mtime_ns, schema).
#: ``spark.read.parquet`` with no schema is NOT free: every call
#: re-reads footers to infer the schema on the JVM (~150 ms measured),
#: which was the dominant fixed cost of trivial queries' builder phase
#: (VERDICT r8 task 7). The SCHEMA is the cacheable part — supplying it
#: back cuts the read call ~5× while still returning a FRESH DataFrame
#: per call, so role-playing self-joins (two load_table calls joined
#: against each other, e.g. q7's n1/n2 nations) keep distinct plan ids.
#: The mtime lives in the VALUE, not the key, so a rewrite supersedes
#: the stale entry instead of accumulating beside it (one entry per
#: (dir, table), bounded); the session identity check invalidates
#: across session restarts in tests.
_SCHEMA_CACHE: dict[tuple[str, str], tuple[SparkSession, int, object]] = {}


def _dataset_mtime_ns(path: str) -> int:
    """Freshness stamp for a parquet path. For a directory-style
    dataset the DIR mtime only moves when entries are added/removed/
    renamed — overwriting part files in place leaves it unchanged, and
    a stale cached schema would then be silently forced onto new data.
    Take the max mtime across the dataset's files instead (footer,
    _SUCCESS, and part files all count) — RECURSIVELY, because a
    partitioned dataset keeps its part files one level down
    (key=value/part-*.parquet) where a flat scandir would miss an
    in-place overwrite just the same."""
    try:
        st = os.stat(path)
    except OSError:
        return -1  # missing path: let the Spark reader raise its own error
    newest = st.st_mtime_ns
    if os.path.isdir(path):
        try:
            for root, _dirs, files in os.walk(path):
                try:
                    newest = max(newest, os.stat(root).st_mtime_ns)
                except OSError:
                    pass
                for f in files:
                    try:
                        newest = max(newest, os.stat(os.path.join(root, f)).st_mtime_ns)
                    except OSError:
                        continue
        except OSError:
            pass
    return newest


def table_stamp(sf_dir: str, table: str) -> str:
    """Identity of one table's current contents for memo keys: realpath
    plus dataset mtime, so a table rewritten in place under the same
    path is a new key (the oracle always reads the CURRENT table)."""
    return f"{os.path.realpath(sf_dir)}@{_dataset_mtime_ns(table_path(sf_dir, table))}"


def _read_parquet_cached_schema(
    spark: SparkSession, path: str, key: tuple[str, str], mtime: int
) -> DataFrame:
    hit = _SCHEMA_CACHE.get(key)
    if hit is not None and hit[0] is spark and hit[1] == mtime:
        return spark.read.schema(hit[2]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMA_CACHE[key] = (spark, mtime, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; available: {TABLES}")
    if name == "events":
        return _load_events(spark, sf_dir)
    path = table_path(sf_dir, name)
    key = (os.path.realpath(sf_dir), name)
    return _ltz(
        _read_parquet_cached_schema(spark, path, key, _dataset_mtime_ns(path))
    )


def _ltz(df: DataFrame) -> DataFrame:
    """Cast any TIMESTAMP_NTZ column to TIMESTAMP_LTZ. The parquet
    writer of the driver data marks timestamps isAdjustedToUTC=false,
    which Spark 4 infers as NTZ — a type many chrono functions
    (``unix_micros``, ``window``'s slide arithmetic on some paths)
    reject. With the session timezone pinned UTC the cast is
    value-preserving, and it restores the LTZ semantics every oracle
    was validated under."""
    from pyspark.sql import functions as F

    ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize ``events.ts`` to TIMESTAMP_LTZ regardless of how the
    parquet writer encoded it. Observed encodings of the driver data:

    * TIMESTAMP(NANOS) — Spark 4 refuses to read it as a timestamp
      (PARQUET_TYPE_ILLEGAL); read nanos as long and truncate to µs,
      the same ns→µs truncation DuckDB applies casting to its native
      µs TIMESTAMP.
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) — Spark 4 infers
      TIMESTAMP_NTZ, which functions like ``unix_micros`` reject; cast
      to LTZ (value-preserving: the session timezone is pinned UTC).
    """
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = table_path(sf_dir, "events")
    df = _read_parquet_cached_schema(
        spark, path, (os.path.realpath(sf_dir), "events"), _dataset_mtime_ns(path)
    )
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return _ltz(df)


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register each table as a temp view so queries can use spark.sql."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


#: suffixes of Hadoop codecs that cannot split, so Spark reads each such
#: file as ONE task whatever its size (bzip2 is absent: its codec splits)
_NON_SPLITTABLE = (".gz", ".deflate", ".lz4", ".snappy", ".zst")


def _est_scan_splits(df: DataFrame) -> int | None:
    """Estimate how many scan tasks ``df``'s file sources resolve to,
    from the file list and the session's split-packing knobs — the
    same arithmetic FilePartition uses (size + openCost bin-packed at
    maxPartitionBytes), coarse on purpose: the caller only needs
    "1-few splits" vs "already parallel". ``None`` = not a plain file
    scan (empty or unresolvable file list) — the caller decides."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None

    spark = df.sparkSession

    def _size_conf(key: str, default: int) -> int:
        # Spark's own byte-string parser: "128m" is 128 MiB, a bare
        # number is bytes
        try:
            raw = str(spark.conf.get(key))
        except Exception:
            return default
        return int(spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw))

    max_bytes = _size_conf("spark.sql.files.maxPartitionBytes", 128 * 1024 * 1024)
    open_cost = _size_conf("spark.sql.files.openCostInBytes", 4 * 1024 * 1024)
    total = 0
    whole_files = 0
    for f in files:
        if not f.startswith("file:"):
            # non-local filesystem: sizes aren't cheaply readable here;
            # the file count alone is a fine lower bound on splits
            return len(files)
        if f.endswith(_NON_SPLITTABLE):
            # one task however large the file is
            whole_files += 1
            continue
        try:
            # "file:///p" and "file:/p" both resolve: extra leading
            # slashes are harmless to the OS path lookup
            sz = os.path.getsize(f[len("file:"):])
        except OSError:
            return len(files)
        total += sz + open_cost
    return max(1, whole_files + -(-total // max_bytes))


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition a narrow projection to the session's
    default parallelism before CPU-heavy per-row work (shingling,
    hashing, vector folds, edit distance).

    The driver ships each table as ONE single-row-group parquet file,
    so every scan stage is a single task — heavy array expressions
    would run on one core no matter how many the session has. On a
    cluster the input normally arrives in many splits and the exchange
    is redundant, so the repartition is GATED on the measured scan
    parallelism (VERDICT r10): when the file list already resolves to
    more than a quarter of the session's cores' worth of splits, the
    input is returned unchanged and no Exchange enters the plan. A
    non-file source (literal ranges, shuffled intermediates) keeps the
    historical always-spread behavior — those call sites exist
    precisely because their parallelism was measured to be wrong.
    Single-file inputs — concatenated dumps, gzip logs — are a real
    production shape whose standard remedy is exactly this
    redistribute-before-expensive-work step. Measured on the
    shingle-join dedup at sf0.1: 3.4× end to end. Decision site
    ``spread`` (plans/decisions.py), noted per call."""
    par = df.sparkSession.sparkContext.defaultParallelism
    splits = _est_scan_splits(df)
    d = note(
        "spread",
        {
            "splits": splits,
            "parallelism": par,
            "spread": splits is None or splits <= max(1, par // 4),
        },
    )
    return df.repartition(par) if d["spread"] else df
