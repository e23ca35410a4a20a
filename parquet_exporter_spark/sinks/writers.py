"""Sinks: Parquet (snappy/gzip/zstd), JSON, CSV, partitioned layouts.

Reference parity: the COPY ... (FORMAT PARQUET, COMPRESSION ...) sink
(/root/reference/export.py:238-242, config.yaml:13) and the JSON dump
(parquet2json.py:40). Beyond parity, partitioned/bucketed writes are the
100 TB layout primitives: partitionBy gives partition pruning on read;
bucketBy co-locates future joins on the bucket key.

The publish protocol. Every sink here that claims exactly-once or atomic
publish on a local file system (the partial-sketch stores, the SCD2
dimension, the manifest snapshot table, the build-once scratch indexes)
publishes through the functions below, one per step:

1. stage: Spark writes into a private underscore-named directory, which
   no data-file glob and no Spark directory read ever sees;
2. move: the staged parts are renamed to batch-scoped names
   (``publish_parts`` / ``publish_file``). Readers resolve files from
   committed markers, so the moved parts stay invisible until step 3;
3. mark: the marker is made durable (``commit_marker``: temp file,
   fsync, rename — ``replace_file``);
4. clean up: superseded files are deleted only after the marker.

A crash anywhere before 3 leaves the previous committed state intact as
the replay input, and the replay overwrites the orphaned parts with the
same names and bytes (each batch's output is a deterministic function of
its committed input). A crash between 3 and 4 leaves stale files no
reader resolves; the next successful commit removes them. Build-once
directories (``publish_once``) collapse the same steps into one rename
of a private build directory carrying a ``_COMPLETE`` sentinel.
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid

from pyspark.sql import DataFrame

PARQUET_COMPRESSIONS = ("snappy", "gzip", "zstd")


def write_parquet(
    df: DataFrame,
    path: str,
    compression: str = "snappy",
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    if compression not in PARQUET_COMPRESSIONS:
        raise ValueError(f"unsupported compression {compression!r}; use {PARQUET_COMPRESSIONS}")
    writer = df.write.mode(mode).option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


def write_csv(df: DataFrame, path: str, header: bool = True, mode: str = "overwrite") -> None:
    df.write.mode(mode).option("header", str(header).lower()).csv(path)


def write_orc(
    df: DataFrame,
    path: str,
    compression: str = "zlib",
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """ORC sink (Spark-native columnar alternative to Parquet; same
    predicate-pushdown and column-pruning behavior on read)."""
    writer = df.write.mode(mode).option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def write_compacted(
    df: DataFrame,
    path: str,
    target_files: int,
    sort_cols: list[str] | None = None,
    max_records_per_file: int = 0,
    compression: str = "snappy",
) -> None:
    """Small-file compaction: rewrite a fragmented dataset into
    `target_files` parquet files, optionally sorted within each file so
    parquet row-group min/max stats prune reads on `sort_cols`.

    The small-file problem is THE operational failure mode of streaming /
    incremental ingest at scale: thousands of KB-sized files turn a scan
    into a metadata storm. Compaction is one round-robin repartition
    (no key skew by construction) plus an optional in-partition sort;
    `maxRecordsPerFile` caps the opposite failure (one giant file).
    """
    out = df.repartition(target_files)
    if sort_cols:
        out = out.sortWithinPartitions(*sort_cols)
    writer = out.write.mode("overwrite").option("compression", compression)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.parquet(path)


def overwrite_partitions(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    compression: str = "snappy",
) -> None:
    """Dynamic partition overwrite: replace ONLY the partitions present
    in `df`, leaving every other partition of the target untouched — the
    incremental-backfill write mode (recompute one day/source and land it
    without rewriting, or worse truncating, the rest of the table).

    Spark's static overwrite mode (the default) would TRUNCATE the whole
    table first; partitionOverwriteMode=dynamic scopes the delete to the
    partitions the job actually emits. The option is set per-write (not
    session-wide) so concurrent full-overwrite jobs keep their semantics.
    At 100 TB this is the difference between an O(changed-partition)
    backfill and an O(table) rewrite.
    """
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .option("compression", compression)
        .partitionBy(*partition_by)
        .parquet(path)
    )


def write_atomic_parquet(
    df: DataFrame,
    path: str,
    compression: str = "snappy",
    partition_by: list[str] | None = None,
) -> None:
    """Publish a parquet dataset ATOMICALLY via symlink swap: data lands
    in a private versioned sibling directory (`<path>.v-<uuid>`), and
    `path` is a SYMLINK flipped to it with one os.rename — the only
    POSIX primitive that atomically replaces a name. Readers of `path`
    therefore see either the complete old version or the complete new
    one at every instant: there is no window where `path` is missing
    (a rename-the-old-dir-away scheme has exactly that window, and a
    crash inside it strands the only copy under a temp name).

    The previous version's directory is removed after the flip — already
    -open readers keep their file handles (POSIX unlink semantics); new
    readers resolve the new target. A pre-existing REAL directory at
    `path` (e.g. from write_parquet) is migrated: moved aside and
    re-pointed, which pays the non-atomic window once, on migration
    only. Local/HDFS-style semantics; on object stores (no symlinks,
    no atomic rename) this contract comes from a transactional table
    format instead."""
    vdir = f"{path}.v-{uuid.uuid4().hex}"
    link_tmp = f"{path}.lnk-{uuid.uuid4().hex}"
    migrated = None
    try:
        writer = df.write.mode("overwrite").option("compression", compression)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(vdir)
        old_target = None
        if os.path.islink(path):
            old_target = os.path.realpath(path)
        elif os.path.isdir(path):
            # one-time migration of a plain directory to the symlink scheme
            old_target = migrated = f"{path}.v-migrated-{uuid.uuid4().hex}"
            os.rename(path, old_target)
        os.symlink(os.path.abspath(vdir), link_tmp)
        os.rename(link_tmp, path)  # atomic name replacement
        if old_target and os.path.isdir(old_target):
            shutil.rmtree(old_target, ignore_errors=True)
    except BaseException:
        shutil.rmtree(vdir, ignore_errors=True)
        if os.path.islink(link_tmp):
            os.unlink(link_tmp)
        if migrated and not os.path.lexists(path):
            os.rename(migrated, path)  # the flip failed: undo the migration
        raise


def replace_file(final: str, write) -> None:
    """Durably replace ``final``: ``write(tmp)`` fills a unique sibling
    temp file (``<basename>.tmp.<pid>.<uuid>`` — no ``*.parquet`` or
    ``*.committed`` glob matches it, and concurrent writers never share
    one), which is fsynced and then renamed onto ``final``. Readers see
    the old file or the new one, never a torn write."""
    tmp = f"{final}.tmp.{os.getpid()}.{uuid.uuid4().hex}"
    try:
        write(tmp)
        fd = os.open(tmp, os.O_RDONLY)
        try:
            os.fsync(fd)
        finally:
            os.close(fd)
        os.replace(tmp, final)
    except BaseException:
        if os.path.exists(tmp):
            os.unlink(tmp)
        raise


def marker_path(directory: str, kind: str, marker_id: int) -> str:
    """``<directory>/_<kind>-<marker_id>.committed``."""
    return os.path.join(directory, f"_{kind}-{marker_id}.committed")


def marker_ids(directory: str, kind: str) -> list[int]:
    """Ids of the committed ``_<kind>-<id>.committed`` markers, ascending."""
    out = []
    for p in glob.glob(os.path.join(directory, f"_{kind}-*.committed")):
        try:
            out.append(int(os.path.basename(p)[len(kind) + 2 : -len(".committed")]))
        except ValueError:
            continue
    return sorted(out)


def commit_marker(marker: str, payload: int) -> None:
    """Make ``marker`` durable holding ``str(payload)``."""

    def _write(tmp: str) -> None:
        with open(tmp, "w") as f:
            f.write(str(payload))

    replace_file(marker, _write)


def move_parts(parts: list[str], dest_dir: str, prefix: str) -> list[str]:
    """Rename ``parts`` to ``<prefix><i:04d>.parquet`` under ``dest_dir``
    after deleting any stale ``<prefix>*.parquet`` (a crashed attempt's
    orphans). Returns the final paths."""
    for p in glob.glob(os.path.join(dest_dir, prefix + "*.parquet")):
        os.unlink(p)
    final = []
    for i, part in enumerate(parts):
        final.append(os.path.join(dest_dir, f"{prefix}{i:04d}.parquet"))
        os.replace(part, final[-1])
    return final


def _staged_parts(df: DataFrame, staging: str) -> list[str]:
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    return sorted(glob.glob(os.path.join(staging, "part-*.parquet")))


def publish_parts(df: DataFrame, dest_dir: str, prefix: str) -> list[str]:
    """Stage ``df`` as one file and move it in as ``<prefix>0000.parquet``
    under ``dest_dir`` (steps 1-2 of the protocol). Returns the final
    paths; the caller commits its marker next."""
    staging = os.path.join(dest_dir, f"_staging_{prefix}")
    final = move_parts(_staged_parts(df, staging), dest_dir, prefix)
    shutil.rmtree(staging, ignore_errors=True)
    return final


def publish_file(df: DataFrame, dest_path: str) -> None:
    """Stage ``df`` as one file and rename it to exactly ``dest_path`` —
    for files a manifest records by name."""
    d, name = os.path.split(dest_path)
    staging = os.path.join(d, f"_staging_{name}")
    (part,) = _staged_parts(df, staging)
    os.replace(part, dest_path)
    shutil.rmtree(staging, ignore_errors=True)


def publish_once(path: str, build) -> str:
    """Build-once directory: return ``path`` at once when it holds
    ``_COMPLETE``; otherwise ``build(tmp)`` into a private
    ``<path>.build-<uuid>``, add ``_COMPLETE`` and rename it into place.
    If the rename fails, a complete winner (a concurrent build of the same
    source) is kept; an incomplete squatter (a crashed build: Spark
    creates its output directory when the job starts) is cleared and the
    rename retried. ``tmp`` is always removed, so a build that raises
    leaves nothing behind. Returns ``path``."""
    done = os.path.join(path, "_COMPLETE")
    if os.path.isfile(done):
        return path
    tmp = f"{path}.build-{uuid.uuid4().hex}"
    try:
        build(tmp)
        open(os.path.join(tmp, "_COMPLETE"), "w").close()
        try:
            os.rename(tmp, path)
        except OSError:
            if not os.path.isfile(done):
                shutil.rmtree(path, ignore_errors=True)
                os.rename(tmp, path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return path
