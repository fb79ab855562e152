"""Table catalog: sf_dir of parquet files -> named DataFrames.

Mirrors the reference's entity registry (containers + entity paths in
dwh_lab/dwh/general_lib.py:118-174) as a thin declarative loader; the
parquet scans stay lazy so Catalyst prunes columns and pushes filters
into the file source.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
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

# Dimensions small enough to broadcast at any scale factor we target.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier"})

# Columns stored as parquet TIMESTAMP(NANOS): Spark reads them as long
# (spark.sql.legacy.parquet.nanosAsLong) and we convert to microsecond
# timestamps here — truncation matches DuckDB's nanos→micros behavior.
NANO_TS_COLS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _ensure_session_confs(spark: SparkSession) -> None:
    """Make any caller-provided session (e.g. the driver's) behave like
    ours: nano-timestamp parquet readable, UTC event-time semantics, and
    untagged (isAdjustedToUTC=false) parquet timestamps read as the
    classic TIMESTAMP type rather than TIMESTAMP_NTZ — with the session
    pinned to UTC the wall-clock values are identical, and the LTZ type
    keeps epoch functions (unix_micros & friends) available. All are
    runtime-settable SQL confs; idempotent and cheap."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")


# Session confs that change what parquet schema inference returns; a
# cached schema is reused only under the same values.
_PARQUET_READER_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)

# Bound on cached schemas: streaming state reads a new directory per
# batch, so the cache must not grow with a long-lived session.
_SCHEMA_CACHE_MAX = 512
_schema_cache: OrderedDict[tuple[str, ...], tuple[tuple, StructType]] = OrderedDict()
_schema_lock = threading.Lock()


def _content_signature(path: str) -> tuple | None:
    """``(relpath, size, mtime_ns)`` for every file under ``path`` (the
    file itself when it is one). None when the path cannot be stat'ed
    locally (missing, glob pattern, object-store URI): such reads are
    never cached."""
    if not os.path.exists(path):
        return None
    try:
        if os.path.isfile(path):
            st = os.stat(path)
            return (("", st.st_size, st.st_mtime_ns),)
        sig = []
        for root, _dirs, files in os.walk(path):
            for f in files:
                st = os.stat(os.path.join(root, f))
                sig.append((os.path.relpath(os.path.join(root, f), path), st.st_size, st.st_mtime_ns))
    except OSError:
        return None
    return tuple(sorted(sig))


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """``spark.read.parquet(*paths)`` without a schema-inference job on a
    repeat read: the engine's one parquet read path.

    Applies ``_ensure_session_confs`` (so any session reads nano and
    untagged timestamps as ours does), then looks up the schema inferred
    for ``paths`` last time. A hit needs the same parquet reader confs
    and the same ``(relpath, size, mtime_ns)`` for every file under each
    path; it reads with ``spark.read.schema(s)``, which plans the same
    scan but skips the footer job. Anything else (new files, a rewrite,
    a toggled conf) infers afresh and replaces the entry, so the cache
    holds one entry per path."""
    _ensure_session_confs(spark)
    key = tuple(os.path.abspath(p) for p in paths)
    sigs = tuple(_content_signature(p) for p in key)
    if None in sigs:
        return spark.read.parquet(*paths)
    stamp = (tuple(spark.conf.get(c) for c in _PARQUET_READER_CONFS), sigs)
    with _schema_lock:
        hit = _schema_cache.get(key)
        if hit is not None:
            _schema_cache.move_to_end(key)
    if hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(*paths)
    df = spark.read.parquet(*paths)
    schema = df.schema
    with _schema_lock:
        _schema_cache[key] = (stamp, schema)
        _schema_cache.move_to_end(key)
        while len(_schema_cache) > _SCHEMA_CACHE_MAX:
            _schema_cache.popitem(last=False)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    df = read_parquet(spark, table_path(sf_dir, name))
    for col in NANO_TS_COLS.get(name, ()):
        dtype = dict(df.dtypes).get(col)
        if dtype == "bigint":
            df = df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
        elif dtype == "timestamp_ntz":
            # Scan resolved before our conf took effect (cached relation):
            # same normalization, as a cast. Session tz is UTC, so values
            # are preserved exactly.
            df = df.withColumn(col, F.col(col).cast("timestamp_ltz"))
    return df


def _scan_partitions(spark: SparkSession, path: str) -> int:
    """Estimated #input partitions for a parquet path: bytes on disk /
    maxPartitionBytes (how Spark splits files). Pure os.stat — no plan
    analysis. Unstat-able paths (object stores) estimate wide, which
    correctly disables widening."""
    try:
        if os.path.isfile(path):
            size = os.path.getsize(path)
        else:
            size = sum(
                os.path.getsize(os.path.join(r, f))
                for r, _, fs in os.walk(path)
                for f in fs
            )
    except OSError:
        return 1 << 30
    raw = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
    mpb = int("".join(c for c in str(raw) if c.isdigit()) or "134217728")
    return max(1, (size + mpb - 1) // mpb)


def widen(spark: SparkSession, df: DataFrame, sf_dir: str, name: str, *cols: str) -> DataFrame:
    """Repartition ONLY if the table scans into fewer partitions than
    cores. A single small parquet file is one input partition on
    local[*], serializing any downstream fan-out (explode, cross
    product); at cluster scale the table spans ≥ cores split-points
    already and this is a no-op — the full-data shuffle is only ever
    paid where it buys parallelism. With ``cols`` the widening shuffle
    hash-partitions on those columns (instead of round-robin), so a
    downstream groupBy on a superset of them reuses the clustering
    and plans no second exchange — and the partition COUNT is left to
    AQE (no explicit N): pinning it forces REPARTITION_BY_NUM, which
    AQE cannot coalesce, and the extra near-empty tasks measurably
    slow small-input queries (~1.5× on the sf0.1 IR family) while
    buying nothing at scale."""
    p = spark.sparkContext.defaultParallelism
    if _scan_partitions(spark, table_path(sf_dir, name)) < p:
        return df.repartition(*cols) if cols else df.repartition(p)
    return df


def load_tables(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, register_views: bool = True
) -> dict[str, DataFrame]:
    """Load every table lazily; optionally register temp views for spark.sql."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        if register_views:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out
