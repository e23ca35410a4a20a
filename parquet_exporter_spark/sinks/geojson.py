"""GeoJSON sink (reference R7, /root/reference/parquet2json.py:23-38).

Rows with latitude/longitude become Point features: lat/lng move into the
geometry, every other column into properties. Feature assembly is a pure
Catalyst expression (struct + to_json), distributed end to end; only the
final single-document FeatureCollection concatenation touches the driver —
inherent to emitting ONE document, and bounded because GeoJSON output is a
filtered/projected result, not a raw fact table.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def feature_column(df: DataFrame, lat: str = "latitude", lng: str = "longitude") -> Column:
    props = [c for c in df.columns if c not in (lat, lng)]
    return F.to_json(
        F.struct(
            F.lit("Feature").alias("type"),
            F.struct(
                F.lit("Point").alias("type"),
                F.array(F.col(lng), F.col(lat)).alias("coordinates"),
            ).alias("geometry"),
            F.struct(*[F.col(c) for c in props]).alias("properties"),
        )
    )


def features_df(df: DataFrame, lat: str = "latitude", lng: str = "longitude") -> DataFrame:
    """Distributed feature rows (one JSON string per input row), with the
    reference's NULL-coordinate drop (parquet2json.py:24)."""
    return df.filter(F.col(lat).isNotNull() & F.col(lng).isNotNull()).select(
        feature_column(df, lat, lng).alias("feature")
    )


def write_feature_collection(
    df: DataFrame, path: str, lat: str = "latitude", lng: str = "longitude"
) -> int:
    """Single-file FeatureCollection document; returns the feature count.

    SIZE BOUND: assembles the whole document in driver memory (collect).
    Use only when the feature set fits on the driver — the reference's
    use case is a curated export of O(100k) features, well under that
    bound. For corpus-scale feature sets use
    :func:`write_feature_collection_distributed`.
    """
    feats = [r.feature for r in features_df(df, lat, lng).collect()]
    doc = '{"type": "FeatureCollection", "features": [' + ",".join(feats) + "]}"
    json.loads(doc)  # validate before writing
    with open(path, "w") as f:
        f.write(doc)
    return len(feats)


def write_feature_collection_distributed(
    df: DataFrame, out_dir: str, lat: str = "latitude", lng: str = "longitude"
) -> int:
    """Scale path: executors write feature lines; no driver materialization.

    Emits the document as newline-delimited parts under ``out_dir``:
    ``header.json`` / ``part-*.txt`` (one feature per line, written by
    Spark's text sink straight from the executors) / ``footer.json``.
    A consumer concatenates header + ','-joined feature lines + footer to
    obtain the exact single-document FeatureCollection; keeping the body
    as parts is what makes the sink linear-scalable — no single process
    ever holds more than one feature. Returns the feature count, observed
    on the text write itself: the sink fires one job and never reads its
    output back.
    """
    import os

    obs = Observation("geojson_features")
    feats = features_df(df, lat, lng).observe(obs, F.count(F.lit(1)).alias("features"))
    feats.write.mode("overwrite").text(os.path.join(out_dir, "features"))
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "header.json"), "w") as f:
        f.write('{"type": "FeatureCollection", "features": [')
    with open(os.path.join(out_dir, "footer.json"), "w") as f:
        f.write("]}")
    return obs.get["features"]
