"""Multimodal ingest pipeline: the media-corpus user story end-to-end.

Composes the round-4 real-codec operators into the pass a multimodal
training-data team runs over a directory of raw media files:

    binaryFile scan -> sniff + REAL decode (operators/codecs.py)
                    -> corrupt quarantine (tagged rows, job never dies)
                    -> quality gate (min pixel count for images)
                    -> perceptual-dedup (aHash groups, keep first path)
                    -> partitioned parquet (by media format) + ingest card

Every stage is the same logic the registered queries and
tests/test_multimodal_real.py verify: decode_features(decode_stub=False)
for sniff/decode/quarantine, image_average_hash for the near-dup key.
One Spark job; the driver sees only the bounded per-format card.

Scale: the binaryFile source splits by file; decode work is confined to
Arrow batches (codec modules ship inside the task via cloudpickle
by-value registration, so executors need no package install); every
post-decode frame is NARROW — payload bytes never enter a join or
window, only 8-byte aHash / 32-byte sha keys plus metadata shuffle, and
the written output carries metadata + provenance, not payloads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_exporter_spark.operators.multimodal import (
    decode_features,
    image_average_hash,
)


def scan_media(spark: SparkSession, input_dir: str) -> DataFrame:
    """Directory of raw media files -> (doc_id, path, payload). doc_id is
    the 64-bit hash of the path: stable across runs, join-ready, and
    payload-independent (re-ingesting a changed file keeps its id)."""
    raw = spark.read.format("binaryFile").load(input_dir)
    return raw.select(
        F.xxhash64("path").alias("doc_id"),
        "path",
        F.col("content").alias("payload"),
    )


def ingest_media(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    min_pixels: int = 64,
) -> dict:
    """Run the full ingest; returns the per-format card as a dict list.

    Output layout: ``output_dir`` partitioned by ``format_kind`` (png/
    wav/octet-stream), one row per KEPT file with its decoded metadata
    and dedup provenance; corrupt files are written under the
    ``corrupt=true`` partition rather than silently dropped, so the
    quarantine is auditable."""
    media = scan_media(spark, input_dir)
    # Three NARROW frames, each produced map-side from the scan — payload
    # bytes never enter a join or window shuffle, only 8-64 byte keys do:
    #   feats   (doc_id, payload_bytes, format, width, height, feature_mean)
    #   hashed  (doc_id, ahash)  — NULL for non-images/corrupt (quarantine)
    #   digests (doc_id, path, sha) — exact-dup key for non-image media
    feats = decode_features(media, decode_stub=False)
    # aHash is only meaningful for image payloads: pre-filter map-side on
    # image magic bytes so audio/octet-stream blobs never enter the Arrow
    # decode batch — at corpus scale that is the difference between
    # hashing every byte ingested and only the image fraction. The magic
    # list is a SUPERSET of what any decode path can handle: PNG/JPEG/BMP
    # (stdlib decoders) plus GIF/WebP/TIFF (decodable when Pillow is on
    # the cluster). Rows filtered out — and rows passed through that the
    # present decoder cannot decode — both land on a NULL ahash, so the
    # filter's verdict provably agrees with the decoder's regardless of
    # which decode path is installed.
    looks_image = (
        F.expr("substring(payload, 1, 8) = X'89504E470D0A1A0A'")  # PNG
        | F.expr("substring(payload, 1, 2) = X'FFD8'")  # JPEG
        | F.expr("substring(payload, 1, 2) = X'424D'")  # BMP
        | F.expr("substring(payload, 1, 3) = X'474946'")  # GIF8[79]a
        | F.expr(  # RIFF....WEBP
            "substring(payload, 1, 4) = X'52494646'"
            " AND substring(payload, 9, 4) = X'57454250'"
        )
        | F.expr("substring(payload, 1, 4) = X'49492A00'")  # TIFF LE
        | F.expr("substring(payload, 1, 4) = X'4D4D002A'")  # TIFF BE
    )
    hashed = image_average_hash(
        media.filter(looks_image).select("doc_id", "payload"), decode_stub=False
    )
    digests = media.select("doc_id", "path", F.sha2("payload", 256).alias("sha"))
    enriched = feats.join(hashed, "doc_id", "left").join(digests, "doc_id")

    is_corrupt = F.col("format").startswith("corrupt/")
    is_image = F.col("format").startswith("image/")
    too_small = is_image & (F.col("width") * F.col("height") < F.lit(min_pixels))

    # aHash only means something for decodable images; other media dedup
    # by exact payload digest.
    kept_candidates = enriched.filter(~is_corrupt & ~too_small).withColumn(
        "dedup_key",
        F.when(
            is_image & F.col("ahash").isNotNull(),
            F.conv(F.col("ahash").cast("string"), 10, 16),
        ).otherwise(F.col("sha")),
    )

    w = Window.partitionBy("dedup_key").orderBy("path")
    deduped = (
        kept_candidates.withColumn("rn", F.row_number().over(w))
        .withColumn("n_copies", F.count(F.lit(1)).over(Window.partitionBy("dedup_key")))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )

    quarantined = enriched.filter(is_corrupt | too_small).select(
        "doc_id",
        "path",
        "format",
        "payload_bytes",
        F.lit(None).cast("string").alias("dedup_key"),
        F.lit(0).cast("long").alias("n_copies"),
        F.when(is_corrupt, F.lit("corrupt")).otherwise(F.lit("too_small")).alias(
            "reject_reason"
        ),
    )

    final = deduped.select(
        "doc_id",
        "path",
        "format",
        "payload_bytes",
        "width",
        "height",
        "feature_mean",
        "dedup_key",
        "n_copies",
    ).withColumn(
        "format_kind", F.regexp_extract("format", "/(.+)$", 1)
    )
    final.write.mode("overwrite").partitionBy("format_kind").parquet(
        f"{output_dir}/kept"
    )
    quarantined.write.mode("overwrite").partitionBy("reject_reason").parquet(
        f"{output_dir}/quarantine"
    )

    # read back with the written schemas: a partitioned write of zero
    # rows leaves no file to infer one from
    card = (
        spark.read.schema(final.schema)
        .parquet(f"{output_dir}/kept")
        .groupBy("format_kind")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("payload_bytes").alias("total_bytes"),
            F.sum(F.col("n_copies") - 1).alias("dups_removed"),
        )
        .collect()
    )
    rejects = (
        spark.read.schema(quarantined.schema)
        .parquet(f"{output_dir}/quarantine")
        .groupBy("reject_reason")
        .count()
        .collect()
    )
    return {
        "kept": {r["format_kind"]: (r["n_files"], r["total_bytes"], r["dups_removed"]) for r in card},
        "rejected": {r["reject_reason"]: r["count"] for r in rejects},
    }
