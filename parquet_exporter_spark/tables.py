"""Catalog of the driver testdata tables (TESTDATA.md / FIXTURES.md).

``load(spark, sf_dir)`` returns the tables as DataFrames; ``register(spark,
sf_dir)`` additionally publishes them as temp views so `spark.sql` queries
see the same names DuckDB's oracle views use.

Scale posture: the star-schema dimensions (region, nation, supplier, part,
customer) are *bounded* relative to the facts (orders, lineitem, events).
Queries broadcast dims explicitly; facts are never collected or broadcast.
"""

from __future__ import annotations

import glob
import hashlib
import os
import tempfile
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType, TimestampNTZType

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

# Dimensions safe to broadcast at any scale factor the engine targets
# (region/nation are fixed-cardinality; supplier/part/customer grow with SF
# but stay orders of magnitude below the facts — broadcast decisions for
# those are left to Catalyst/AQE via autoBroadcastJoinThreshold).
FIXED_DIMS = ("region", "nation")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# read_table is on every query's hot path and queries read 4-6 tables each:
# pin session confs once per session and footer-read each table's schema
# once per (sf_dir, table), not per call.
_pinned_sessions: weakref.WeakSet = weakref.WeakSet()
_schema_cache: dict[tuple[str, str], StructType] = {}


def _pin_session(spark: SparkSession) -> None:
    # Engine contract: UTC session semantics. The caller's session (e.g. the
    # driver's) may not pin a timezone; mixed NTZ/instant timestamp coercion
    # would then depend on the host TZ and break oracle parity.
    if spark in _pinned_sessions:
        return
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    _pinned_sessions.add(spark)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table.

    ``events.ts`` has shipped in two physical encodings across testdata
    generations: INT64 TIMESTAMP(NANOS) (which Spark's parquet reader
    rejects — read as long via legacy nanosAsLong, then truncate to micros,
    matching DuckDB's truncation) and plain TIMESTAMP(MICROS) (pass
    through). Normalization is conditional on the type actually read so
    both encodings produce identical microsecond timestamps.
    """
    _pin_session(spark)
    path = table_path(sf_dir, name)
    key = (sf_dir, name)
    cached = _schema_cache.get(key)
    reader = spark.read.schema(cached) if cached is not None else spark.read
    raw = reader.parquet(path)
    if cached is None:
        _schema_cache[key] = raw.schema
    if name == "events" and isinstance(raw.schema["ts"].dataType, LongType):
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if name == "events" and isinstance(raw.schema["ts"].dataType, TimestampNTZType):
        # MICROS testdata reads as TIMESTAMP_NTZ; normalize to instant
        # TimestampType so both encodings are type-equivalent downstream
        # (e.g. ts::long casts, which Spark forbids on NTZ). Session TZ is
        # pinned UTC above, so the instant values are unchanged.
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


_rowcount_cache: dict[tuple[str, str], int] = {}


def tiny_df(spark: SparkSession, data, schema) -> DataFrame:
    """Single-partition local relation for literal probe/config tables.

    ``createDataFrame`` parallelizes local rows over
    ``defaultParallelism`` slices, so a 4-row literal table schedules 32
    near-empty tasks per downstream operator on local[32] — and a
    cartesian of two such relations squares it (32x32 = 1024 tasks for
    24 rows, measured ~20 s of pure task scheduling). Passing a 1-slice
    RDD keeps the identical pickle->Row conversion path (same values,
    same schema application) with ONE partition = one task.

    Measured on an 18-row relation, 5-run average of count():
    plain createDataFrame 0.545 s, createDataFrame().coalesce(1)
    5.32 s (the coalesce serializes 32 Python-worker partition
    evaluations into one task — do NOT use coalesce here),
    parallelize(data, 1) 0.243 s.
    """
    return spark.createDataFrame(
        spark.sparkContext.parallelize(list(data), 1), schema
    )


def table_rowcount(sf_dir: str, name: str) -> int:
    """Exact table cardinality from parquet footer metadata (catalog stats).

    ``count(*)`` over parquet is a metadata-only operation — every engine
    (Spark's aggregate pushdown, DuckDB) answers it from row-group counts
    without scanning data. Surfacing it as a catalog statistic lets query
    builders embed scalar cardinalities (e.g. TF-IDF's corpus size) as
    literals instead of spending a job + exchange + broadcast per run.
    Cached per (sf_dir, table): testdata is immutable within a session.
    """
    key = (sf_dir, name)
    cached = _rowcount_cache.get(key)
    if cached is not None:
        return cached
    import glob

    import pyarrow.parquet as pq

    path = table_path(sf_dir, name)
    if os.path.isdir(path):
        files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    else:
        files = [path]
    total = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    _rowcount_cache[key] = total
    return total


def scratch_dir(kind: str, pattern: str) -> str:
    """Versioned scratch path ``<tempdir>/pes_<kind>_<tag>`` for state
    derived from the files matching the glob ``pattern`` (persisted
    indexes, sketch stores, format round-trips). The tag hashes ``kind``
    with every matching file's path, sub-second mtime and size, so data
    regenerated within the same second still gets a fresh path and a
    stale copy is never reused; ``kind`` keeps two derivations of one
    source apart. A pattern matching nothing is keyed on itself."""
    files = sorted(glob.glob(pattern))
    version = "|".join(
        f"{p}:{os.path.getmtime(p):.6f}:{os.path.getsize(p)}" for p in files
    ) or pattern
    tag = hashlib.sha256(f"{kind}|{version}".encode()).hexdigest()[:12]
    return os.path.join(tempfile.gettempdir(), f"pes_{kind}_{tag}")


def load(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    return {name: read_table(spark, sf_dir, name) for name in names}


def register(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    dfs = load(spark, sf_dir, names)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
