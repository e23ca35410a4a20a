"""The end-to-end export pipeline, config-driven — the Spark-first
re-expression of the reference's main() (/root/reference/export.py:276-310):

    config -> ingest (GraphQL source or existing nested parquet/JSON)
           -> region filter -> reshape -> parquet sink -> stats + sample.

Catalyst replaces DuckDB for parse/analyze/optimize; the whole query is a
narrow scan+filter+project pipeline that scans the corpus once: the health
metrics and the raw-size yardstick ride the parquet write, and only the
read-back count (a one-row exchange over parquet footers) runs after it.
"""

from __future__ import annotations

import sys

import yaml
from pyspark.sql import DataFrame, SparkSession

from parquet_exporter_spark.operators.climbs_reshape import region_filter, reshape
from parquet_exporter_spark.sinks.stats import export_stats
from parquet_exporter_spark.sinks.writers import write_parquet

DEFAULT_CONFIG = {
    "export": {
        "regions": [],  # empty = all (reference config.yaml:7-9)
        "output_filename": "climbs.parquet",
        "compression": "snappy",  # snappy/gzip/zstd (config.yaml:13)
    }
}


def load_config(path: str | None) -> dict:
    if path is None:
        return DEFAULT_CONFIG
    with open(path) as f:
        cfg = yaml.safe_load(f) or {}
    merged = {"export": {**DEFAULT_CONFIG["export"], **cfg.get("export", {})}}
    return merged


def run_export(
    spark: SparkSession,
    climbs: DataFrame,
    output_path: str,
    config: dict | None = None,
    stats_path: str | None = None,
    sample: bool = False,
) -> dict:
    """Filter, reshape and write the climbs as parquet; return the export
    stats (reference export.py:244-262) with the health metrics.

    ``total_rows`` is the read-back count of the written parquet (the
    reference's verification step, test-export.py:104-106). The raw size
    behind ``compression_ratio`` and the ``metrics`` come from one
    observation on the write itself, so the input is scanned once. An
    export that keeps no rows succeeds with zero counts.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    cfg = (config or DEFAULT_CONFIG)["export"]
    filtered = region_filter(climbs, cfg.get("regions") or [])
    flat = reshape(filtered)
    # observe(): pipeline health metrics ride the write action itself —
    # no second scan, and on a cluster they aggregate across executors
    obs = Observation("export_metrics")
    observed = flat.observe(
        obs,
        F.count(F.lit(1)).alias("rows_observed"),
        F.sum(F.col("latitude").isNull().cast("int")).alias("null_coord_rows"),
        F.approx_count_distinct("country").alias("approx_countries"),
        # raw-size yardstick for the compression ratio: JSON-serialized
        # input (reference compares the JSON intermediate to the parquet
        # output, export.py:246-247), estimated from the flat rows without
        # materializing the corpus on the driver
        F.sum(F.octet_length(F.to_json(F.struct(*flat.columns)))).alias("raw_bytes"),
    )
    write_parquet(observed, output_path, compression=cfg.get("compression", "snappy"))

    # read-back verification (reference test-export.py:104-106); the schema
    # is the one just written, so no job is spent reading it off the footers
    written = spark.read.schema(flat.schema).parquet(output_path)
    n = written.count()
    if n == 0:
        print("export produced 0 rows", file=sys.stderr)
    if sample:
        written.show(5, truncate=30)  # reference export.py:264-272

    # sums over zero rows are NULL
    metrics = {k: int(v or 0) for k, v in obs.get.items()}
    stats = export_stats(n, metrics.pop("raw_bytes"), output_path, stats_path)
    stats["metrics"] = metrics
    return stats
