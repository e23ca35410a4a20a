"""Per-file Bloom-filter index: equality-lookup file skipping on
high-cardinality UNCLUSTERED columns.

Range stats (sources/manifest.py) prune a predicate only when the column
is clustered — on a hash-scattered id every file's [min, max] spans the
whole keyspace and nothing skips. A per-file Bloom prunes the equality
lookup anyway: build one filter per data file at write time (Delta's
Bloom filter index, Parquet's own bloom_filter option), test the literal
against each filter at PLAN time, and list only the files that may
contain it. False positives only ever ADD files — the same superset
guarantee as stats pruning — and the residual predicate still runs.

Design for 100 TB: the build is one distributed pass (rows -> k bit
positions -> per-(file, word) bit_or partial agg — map-side combined,
the only rows that reach the driver are set WORDS, sparse by
construction); the committed index is metadata-sized (<= files x m/64
rows); probing is a driver-side dict lookup per query literal, zero IO
beyond the one manifest read. Hashing is the md5-derived scheme the
portable sketches already use.

Typed columns (round 12): both sides hash THE SAME canonical string —
Spark's own CAST(col AS STRING). The build casts the native column; the
probe renders its literal through an actual Spark cast of the SAME
stored column type (1-row plan, never a Python str()), so int / date /
timestamp / float / decimal keys index correctly. Python str() rendering
is only trusted for string columns (where it is the identity); for any
other type a mismatched rendering (Spark '1.0E-4' vs Python '0.0001')
would turn Bloom false positives into FALSE NEGATIVES, which is why the
probe refuses to guess and requires a SparkSession for non-string types.

Reference parity note: the reference engine (OpenBeta/parquet-exporter)
has no multi-file scan planning (export.py writes single files); this
extends the scan/sink surface per SURVEY.md section 2.2.
"""

from __future__ import annotations

import hashlib
import os

from parquet_exporter_spark.sinks.writers import replace_file

BLOOM_NAME = "_bloom.parquet"
BLOOM_M = 16384  # bits per file filter (2 KiB); n=1500 keys, k=6 -> ~0.6% FP
BLOOM_K = 6


def _positions(rendered: str, m: int = BLOOM_M, k: int = BLOOM_K) -> list[int]:
    """The k bit positions of an already-CANONICALIZED value string —
    md5 of 'bf{i}:{rendered}', first 8 hex digits, mod m. MUST stay in
    lockstep with the Spark expression in build_bloom_manifest (same
    strings, same slice, same modulus)."""
    return [
        int(hashlib.md5(f"bf{i}:{rendered}".encode()).hexdigest()[:8], 16) % m
        for i in range(k)
    ]


def render_probe_literal(spark, value, dtype: str, tz: str | None = None) -> str:
    """Render ``value`` exactly as the build side rendered the column:
    CAST(CAST(value AS <dtype>) AS STRING) executed BY SPARK on a 1-row
    frame. Using Spark's own cast on both sides is what lifts the old
    string-only restriction safely — Python str() and Spark CAST
    disagree for float/decimal/timestamp ('0.0001' vs '1.0E-4'), and any
    disagreement breaks the no-false-negative guarantee.

    ``tz`` is the BUILD session's ``spark.sql.session.timeZone``,
    recorded in the committed manifest (round 13): CAST(timestamp AS
    STRING) renders the local wall time of the session zone, so an
    index built under UTC probed from an America/New_York session
    would hash a different string for the same instant — a silent
    false NEGATIVE. The probe therefore renders under the build zone
    (set-and-restore around the 1-row plan). A NAIVE datetime probe is
    first made tz-aware IN THE BUILD ZONE via zoneinfo before it enters
    createDataFrame — PySpark's non-Arrow conversion would otherwise
    bind the naive value through the driver OS timezone (time.mktime),
    not the session zone, so a probe from a host whose OS TZ differs
    from the build zone would silently bind the wrong instant (the
    round-13 ADVICE finding). timestamp_ntz stays naive (it has no
    instant to pin). TZ-insensitive types render identically under any
    zone, so the override is a no-op for them."""
    import datetime as _dt

    from pyspark.sql import functions as F

    if (
        isinstance(value, _dt.datetime)
        and value.tzinfo is None
        and tz is not None
        and dtype.strip().lower().startswith("timestamp")
        and "ntz" not in dtype.lower()
    ):
        from zoneinfo import ZoneInfo

        value = value.replace(tzinfo=ZoneInfo(tz))

    tz_key = "spark.sql.session.timeZone"
    old = spark.conf.get(tz_key) if tz is not None else None
    try:
        if tz is not None:
            spark.conf.set(tz_key, tz)
        from parquet_exporter_spark.tables import tiny_df

        # single-slice literal relation (tables.tiny_df): one probe row
        df = tiny_df(spark, [(value,)], f"v {dtype}")
        return df.select(F.col("v").cast("string").alias("r")).first()["r"]
    finally:
        if tz is not None:
            spark.conf.set(tz_key, old)


def build_bloom_manifest(
    spark,
    path: str,
    column: str,
    m: int = BLOOM_M,
    k: int = BLOOM_K,
    manifest_dir: str | None = None,
) -> str:
    """Build per-file Bloom filters over ``column`` for every data file
    under ``path`` and commit them as ``_bloom.parquet`` rows
    (file_name, word_idx, word) — sparse: only words with set bits.
    One distributed pass; the gather is the index itself. The column's
    Spark type is committed alongside (``dtype``) so probes render
    their literal through the identical cast chain. NULLs are skipped
    (an equality probe can never match NULL). Returns the manifest
    path. Commit is atomic (``writers.replace_file``). ``manifest_dir``
    redirects the committed manifest (e.g. a scratch dir when the data
    directory is a read-only committed fixture); the production layout
    co-locates it with the data like _manifest."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    src = spark.read.parquet(path)
    dtype = src.schema[column].dataType.simpleString()
    # The build session's zone is part of the index contract for
    # TZ-sensitive renderings (timestamp CAST AS STRING is local wall
    # time); committed so probes from any session render identically.
    build_tz = spark.conf.get("spark.sql.session.timeZone")
    df = src.select(
        F.regexp_extract(F.input_file_name(), r"([^/]+)$", 1).alias("file_name"),
        F.col(column).cast("string").alias("_v"),
    ).filter(F.col("_v").isNotNull())
    pos_cols = [
        (
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"bf{i}:"), F.col("_v"))), 1, 8),
                16,
                10,
            ).cast("long")
            % m
        ).alias(f"p{i}")
        for i in range(k)
    ]
    pos = df.select("file_name", F.array(*pos_cols).alias("ps")).select(
        "file_name", F.explode("ps").alias("pos")
    )
    words = (
        pos.select(
            "file_name",
            (F.col("pos") / 64).cast("int").alias("word_idx"),
            F.expr("shiftleft(1L, CAST(pos % 64 AS INT))").alias("mask"),
        )
        .groupBy("file_name", "word_idx")
        .agg(F.expr("bit_or(mask)").alias("word"))
        .collect()
    )
    tbl = pa.table(
        {
            "file_name": [r.file_name for r in words],
            "word_idx": pa.array([r.word_idx for r in words], pa.int32()),
            "word": pa.array([r.word for r in words], pa.int64()),
            "m": pa.array([m] * len(words), pa.int32()),
            "k": pa.array([k] * len(words), pa.int32()),
            "dtype": pa.array([dtype] * len(words), pa.string()),
            "tz": pa.array([build_tz] * len(words), pa.string()),
        }
    )
    out_dir = manifest_dir or path
    os.makedirs(out_dir, exist_ok=True)
    final = os.path.join(out_dir, BLOOM_NAME)
    replace_file(final, lambda tmp: pq.write_table(tbl, tmp))
    return final


def prune_with_bloom(
    path: str, value, manifest_dir: str | None = None, spark=None
) -> list[str]:
    """Data-file paths under ``path`` that MAY contain ``value`` in the
    indexed column, planned from the committed Bloom manifest alone.
    Superset guarantee: a Bloom has no false negatives, so every file
    actually containing the value survives; ~FP-rate extra files may.
    Files absent from the manifest are conservatively kept; an EMPTY
    manifest (zero rows: empty table or no set words) keeps everything.

    For a string-typed index a plain str probes directly (str() is the
    identity rendering). For any other indexed type, ``spark`` (or an
    active session) is REQUIRED: the literal is rendered through
    Spark's own cast chain so the probe hashes exactly what the build
    hashed — guessing with Python str() could silently prune a file
    that contains the value."""
    import glob

    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(manifest_dir or path, BLOOM_NAME)).to_pylist()
    filters: dict[str, dict[int, int]] = {}
    m = k = None
    dtype = "string"
    build_tz = None
    for r in t:
        filters.setdefault(r["file_name"], {})[r["word_idx"]] = r["word"]
        m, k = r["m"], r["k"]
        dtype = r.get("dtype") or "string"  # pre-round-12 manifests: string-only
        build_tz = r.get("tz")  # pre-round-13 manifests: unrecorded
    if m is None:
        # Zero-row manifest: no filter was ever materialized. Keep every
        # data file rather than raise — pruning is an optimization and
        # "no index" must degrade to "scan everything".
        return [
            p
            for p in sorted(glob.glob(os.path.join(path, "*.parquet")))
            if not os.path.basename(p).startswith("_")
        ]
    if dtype == "string" and isinstance(value, str):
        rendered = value
    else:
        if spark is None:
            from pyspark.sql import SparkSession

            spark = SparkSession.getActiveSession()
        if spark is None:
            raise TypeError(
                f"bloom probe on a {dtype!r} index needs a SparkSession to "
                "render the literal through Spark's own CAST (Python str() "
                "rendering differs and would break the no-false-negative "
                "guarantee)"
            )
        rendered = render_probe_literal(spark, value, dtype, tz=build_tz)
    pos = _positions(rendered, m, k)
    keep = []
    for p in sorted(glob.glob(os.path.join(path, "*.parquet"))):
        base = os.path.basename(p)
        if base.startswith("_"):
            continue
        words = filters.get(base)
        if words is None:
            keep.append(p)  # unindexed file: never prune blind
            continue
        if all(words.get(q // 64, 0) & (1 << (q % 64)) for q in pos):
            keep.append(p)
    return keep
