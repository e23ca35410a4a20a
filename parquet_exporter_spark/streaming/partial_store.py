"""Append-only partial-sketch store shared by the streaming sketch
maintainers (t-digest, HLL, HDR, CMS, KMV): one immutable parquet file
per committed micro-batch plus a durable marker, published with the
protocol in ``sinks/writers.py``.

Partials are immutable and append-only, so the publish needs no
generations: a replay of a committed batch is a marker-checked no-op,
and a crash before the marker leaves an orphan file no reader resolves,
which the replay overwrites with identical content.

A COMPACTION marker (``_compact-<B>.committed``) supersedes all batch
partials with id <= B: readers take the newest compact file plus every
batch partial above its bound. Superseded files are deleted only after
the compact marker is durable.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parquet_exporter_spark.sinks.writers import (
    commit_marker,
    marker_ids,
    marker_path,
    move_parts,
    publish_parts,
)


def committed_batches(store_dir: str) -> list[int]:
    """Batch ids with durable markers, ascending."""
    return marker_ids(store_dir, "batch")


def compacted_upto(store_dir: str) -> int | None:
    """Newest compaction bound B (``_compact-<B>.committed``), or None."""
    return max(marker_ids(store_dir, "compact"), default=None)


def commit_partial(df: DataFrame, batch_id: int, store_dir: str) -> bool:
    """Commit one micro-batch's partial rows. False on replay of an
    already-committed batch, True after a commit."""
    os.makedirs(store_dir, exist_ok=True)
    marker = marker_path(store_dir, "batch", batch_id)
    if os.path.isfile(marker):
        return False
    publish_parts(df, store_dir, f"cent-{batch_id:08d}-")
    commit_marker(marker, batch_id)
    return True


def commit_partials_batched(
    tagged: DataFrame,
    batch_ids: list[int],
    store_dir: str,
    batch_col: str = "batch",
) -> int:
    """Bootstrap commit: write EVERY still-uncommitted batch's partial
    rows in ONE Spark job (a staging write partitioned by ``batch_col``),
    then publish each batch under the same marker protocol
    ``commit_partial`` uses. ``tagged`` must carry ``batch_col`` plus the
    partial's columns in their committed order.

    Optimization r15 (guide §2.6 / VERDICT r14 item 4): the twins'
    first-build used to replay one ``commit_partial`` per micro-batch —
    k sequential jobs, each re-scanning the source and (for the ranked
    sketches) funnelling the whole batch through a single-partition
    window. Building all k partials in one plan lets the per-batch
    windows/aggregates run as PARTITIONED work in one pass. Exactly-once
    posture unchanged: already-committed batches are left untouched,
    markers are written only after the staged files are moved, and a
    crash mid-publish leaves later batches uncommitted for the next call
    (this function or the per-batch handler) to finish.

    Returns the number of batches committed (0 when all were committed)."""
    os.makedirs(store_dir, exist_ok=True)
    todo = [
        b
        for b in batch_ids
        if not os.path.isfile(marker_path(store_dir, "batch", b))
    ]
    if not todo:
        return 0
    staging = os.path.join(store_dir, "_staging_bootstrap")
    (
        tagged.filter(F.col(batch_col).isin([int(b) for b in todo]))
        # one hash partition per batch -> one staged file per batch
        .repartition(len(todo), F.col(batch_col))
        .write.mode("overwrite")
        .partitionBy(batch_col)
        .parquet(staging)
    )
    for b in todo:
        prefix = f"cent-{b:08d}-"
        files = sorted(
            glob.glob(os.path.join(staging, f"{batch_col}={b}", "*.parquet"))
        )
        if files:
            move_parts(files, store_dir, prefix)
        else:
            # empty batch: publish an empty single-file partial so readers
            # (which treat a marker without files as corruption) stay sound
            empty = tagged.filter(F.lit(False)).drop(batch_col)
            publish_parts(empty, store_dir, prefix)
        commit_marker(marker_path(store_dir, "batch", b), b)
    shutil.rmtree(staging, ignore_errors=True)
    return len(todo)


def read_partials(spark, store_dir: str) -> DataFrame | None:
    """All live partial rows tagged with batch_id: the newest compacted
    fold (tagged with its bound B) plus every committed batch partial
    above it. None before the first commit. Orphans without markers are
    never read.

    One ``spark.read.parquet`` over every live file, with batch_id parsed
    from each row's file name (``cent-<B>-`` / ``compact-<B>-``): a read
    per batch would fire one schema-inference job per committed batch,
    so serving cost would grow with the store. A fold has the same schema
    as the batch partials it replaces (each merge writes the partial's
    columns and types), so one footer's schema serves all files."""
    upto = compacted_upto(store_dir)
    files = []
    if upto is not None:
        fold = sorted(
            glob.glob(os.path.join(store_dir, f"compact-{upto:08d}-*.parquet"))
        )
        if not fold:
            raise FileNotFoundError(
                f"partial store {store_dir}: compact marker {upto} exists "
                "but its fold file is missing"
            )
        files += fold
    for b in committed_batches(store_dir):
        if upto is not None and b <= upto:
            continue
        part = sorted(
            glob.glob(os.path.join(store_dir, f"cent-{b:08d}-*.parquet"))
        )
        if not part:
            raise FileNotFoundError(
                f"partial store {store_dir}: marker for batch {b} exists "
                "but its partial file is missing"
            )
        files += part
    if not files:
        return None
    batch_id = F.regexp_extract(
        F.col("_metadata.file_name"), r"^(?:cent|compact)-(\d+)-", 1
    ).cast("long")
    return spark.read.parquet(*files).withColumn("batch_id", batch_id)


def commit_compaction(
    folded: DataFrame, upto_batch: int, store_dir: str
) -> bool:
    """Publish ``folded`` (the fold of all live partials with id <=
    upto_batch, WITHOUT the batch_id column) as the new compacted base.
    False if a compaction at or above this bound already exists.
    Superseded batch partials and older compact files are deleted only
    AFTER the marker is durable."""
    prev = compacted_upto(store_dir)
    if prev is not None and prev >= upto_batch:
        return False
    final = publish_parts(folded, store_dir, f"compact-{upto_batch:08d}-")
    commit_marker(marker_path(store_dir, "compact", upto_batch), upto_batch)
    # cleanup AFTER the durable marker: superseded batch partials and
    # older compact generations (their markers stay as replay guards)
    for b in committed_batches(store_dir):
        if b <= upto_batch:
            for p in glob.glob(
                os.path.join(store_dir, f"cent-{b:08d}-*.parquet")
            ):
                os.unlink(p)
    for p in glob.glob(os.path.join(store_dir, "compact-*.parquet")):
        if p not in final:
            os.unlink(p)
    return True


def compact_partials(spark, store_dir: str, upto_batch: int, fold) -> bool:
    """Fold every live partial with batch_id <= ``upto_batch`` into one
    partial and publish it as the store's compacted base. ``fold`` maps
    the tagged live rows to rows in the partial's schema (the sketch's
    merge; t-digest's re-bin renamed back to centroid columns). False if
    nothing is live up to the bound or a compaction at or above it
    exists."""
    live = read_partials(spark, store_dir)
    if live is None:
        return False
    old = live.filter(F.col("batch_id") <= upto_batch)
    if old.limit(1).count() == 0:
        return False
    return commit_compaction(fold(old), upto_batch, store_dir)

