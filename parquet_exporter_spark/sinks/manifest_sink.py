"""Manifest-emitting clustered writer: the write-side half of
manifest/file-stats pruning (sources/manifest.py is the read side).

``write_manifested`` range-clusters a DataFrame on one column into
tightly-bounded files and commits a ``_manifest.parquet`` next to the
data holding each file's (name, rows, min, max) — gathered from the
just-written parquet FOOTERS, O(files) metadata IO. Readers then plan
file subsets from the manifest without touching any footer or data page
(``prune_with_manifest``). The underscore prefix keeps the manifest
invisible to Spark's data-file discovery, the same convention that hides
``_SUCCESS``.

This is the Iceberg/Delta commit pattern reduced to its analytics core:
stats are produced AT WRITE TIME by the writer that already knows the
files, so scan planning never pays a per-file round trip. At 100 TB the
manifest itself is a table (thousands of rows — one per file), read once
per query plan; the footer-walking path in sources/manifest.file_stats
remains the bootstrap for directories nobody manifested.

Data files, the manifest, the version hint and the streaming batch
markers are published with the protocol in ``sinks/writers.py``; the
snapshot CAS (``commit_snapshot``) is this module's own.

Reference parity note: the reference engine (OpenBeta/parquet-exporter,
export.py:238-242) writes single-file exports and has no multi-file scan
planning; this extends the sink surface per SURVEY.md section 2's
extended inventory.
"""

from __future__ import annotations

import glob
import os
from typing import Any

from pyspark.sql import DataFrame

from parquet_exporter_spark.sinks.writers import (
    commit_marker,
    marker_path,
    publish_file,
    replace_file,
)
from parquet_exporter_spark.sources.manifest import FileStat, file_stats, prune_by_range

MANIFEST_NAME = "_manifest.parquet"


def write_manifested(
    df: DataFrame,
    path: str,
    cluster_col: str,
    n_files: int,
    mode: str = "overwrite",
) -> list[FileStat]:
    """Write ``df`` as ``n_files`` parquet files range-clustered and
    sorted on ``cluster_col``, then commit the stats manifest. Returns
    the manifest entries. Clustering is what makes the manifest
    selective: repartitionByRange gives each file a disjoint value
    range, so a range predicate prunes to O(matching) files."""
    (
        df.repartitionByRange(n_files, cluster_col)
        .sortWithinPartitions(cluster_col)
        .write.mode(mode)
        .parquet(path)
    )
    return refresh_manifest(path, cluster_col)


def refresh_manifest(path: str, cluster_col: str) -> list[FileStat]:
    """(Re)build ``_manifest.parquet`` for the data files under ``path``
    from their footers. Local-FS implementation — in production the
    writer's commit protocol appends these rows to the manifest table
    instead of re-listing the directory."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    data_files = sorted(
        p
        for p in glob.glob(os.path.join(path, "*.parquet"))
        if not os.path.basename(p).startswith("_")
    )
    stats = file_stats(data_files, cluster_col)
    table = pa.table(
        {
            "file_name": [os.path.basename(s.path) for s in stats],
            "num_rows": [s.num_rows for s in stats],
            "min_value": [s.min_value for s in stats],
            "max_value": [s.max_value for s in stats],
        }
    )
    # a concurrent read_manifest sees the old manifest or the new one
    replace_file(
        os.path.join(path, MANIFEST_NAME), lambda tmp: pq.write_table(table, tmp)
    )
    return stats


def read_manifest(path: str) -> list[FileStat]:
    """Manifest rows as FileStats with paths resolved under ``path``.
    One small parquet read — no data-file footers are touched."""
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(path, MANIFEST_NAME))
    rows = t.to_pylist()
    return [
        FileStat(
            os.path.join(path, r["file_name"]),
            r["num_rows"],
            r["min_value"],
            r["max_value"],
        )
        for r in rows
    ]


def prune_with_manifest(path: str, lo: Any = None, hi: Any = None) -> list[str]:
    """File paths under ``path`` that may satisfy cluster_col in
    [lo, hi], planned purely from the committed manifest. Same superset
    guarantee as footer pruning: the caller applies the residual
    predicate to the surviving files."""
    return prune_by_range(read_manifest(path), lo=lo, hi=hi)


# ---------------------------------------------------------------------------
# Versioned snapshots: time travel over the manifest (Iceberg's snapshot
# log reduced to its analytics core). Each commit freezes a data-file
# listing + stats as an immutable `_manifest.v{N}.parquet`;
# `_manifest_current` is a version-hint file flipped atomically AFTER the
# snapshot lands, so a reader resolves "current" or any historical N with
# one metadata read and never observes a torn commit. Time-travel reads
# plan against the file SET of that version — files added later are
# invisible, exactly Iceberg's snapshot isolation.
#
# Concurrency + retention (round 12): the snapshot file itself is the
# compare-and-swap arbiter — it is claimed with a hard-link publish
# (os.link fails with EEXIST if the version was already taken), so of two
# racing committers that both computed version N+1 exactly one wins and
# the loser gets a retryable CommitConflictError, never a silent
# overwrite. Version numbering derives from max(existing snapshot files,
# hint), so a lost/deleted hint can never restart numbering at 1 and
# clobber immutable history. `expire_snapshots` completes the lifecycle:
# drop old snapshot versions and (optionally) physically delete data
# files no surviving version references — Iceberg's expire_snapshots +
# remove_orphan_files pattern. Logical deletes (compaction) happen by
# committing with an explicit `data_files` subset; the replaced files
# stay on disk for old-version readers until expiry vacuums them.

VERSION_HINT = "_manifest_current"
HINT_LOCK = "_manifest_hint.lock"
# Healthy committers hold the hint lock for microseconds; waiting this
# long means the lock is stale (a crashed committer). Module-level so
# tests and operators can tighten/relax it.
HINT_LOCK_TIMEOUT_S = 10.0


class CommitConflictError(RuntimeError):
    """Another committer claimed the same snapshot version first.

    Retryable: re-invoke commit_snapshot — it recomputes the next free
    version from the now-longer snapshot chain. Raised ONLY from the
    os.link version-claim CAS; a hint-lock timeout is the distinct,
    NON-retryable HintLockTimeout (retrying a stale lock would just
    claim ever-higher orphan versions forever)."""


class HintLockTimeout(RuntimeError):
    """The _manifest_hint.lock could not be acquired within the bound.

    NOT a version conflict and NOT retryable: the lock is held for
    microseconds by healthy committers, so a timeout means a crashed
    committer left a stale lock file — operator attention (remove the
    lock) is required, and blind retries would mint a new orphan
    snapshot per attempt. When raised from commit_snapshot AFTER the
    os.link CAS succeeded, ``claimed_version`` carries the snapshot
    version that WAS durably published (its hint flip is what timed
    out) so callers can recover the succeeded commit instead of
    re-committing the same table state under a new version."""

    def __init__(self, msg: str, claimed_version: int | None = None):
        super().__init__(msg)
        self.claimed_version = claimed_version


def _snapshot_name(version: int) -> str:
    return f"_manifest.v{version}.parquet"


def manifest_versions(path: str) -> list[int]:
    """Committed snapshot versions under ``path``, ascending."""
    import re

    out = []
    for p in glob.glob(os.path.join(path, "_manifest.v*.parquet")):
        m = re.fullmatch(r"_manifest\.v(\d+)\.parquet", os.path.basename(p))
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def current_manifest_version(path: str) -> int | None:
    """The committed current version, or None before the first commit."""
    hint = os.path.join(path, VERSION_HINT)
    if not os.path.isfile(hint):
        return None
    with open(hint) as f:
        return int(f.read().strip())


def _flip_hint_monotonic(path: str, version: int) -> None:
    """Advance the hint to ``version`` unless a NEWER commit already
    flipped it, and (only when advancing) mirror that version's snapshot
    into the unversioned ``_manifest.parquet`` under the SAME lock — so
    the mirror can never regress to an older file set while the hint
    says newer (two winners of DIFFERENT versions can't interleave
    either write). The read-compare-replace runs under a tiny O_EXCL
    lock file (held for microseconds, bounded spin); a timeout raises
    the NON-retryable HintLockTimeout, not a version conflict."""
    import shutil
    import time

    hint = os.path.join(path, VERSION_HINT)
    lock = os.path.join(path, HINT_LOCK)
    deadline = time.monotonic() + HINT_LOCK_TIMEOUT_S
    while True:
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            break
        except FileExistsError:
            if time.monotonic() > deadline:
                raise HintLockTimeout(
                    f"hint lock {lock} held too long (stale lock? remove it "
                    "if no committer is running)"
                ) from None
            time.sleep(0.001)
    try:
        committed = current_manifest_version(path) or 0
        if version > committed:
            # Mirror FIRST, hint second: a crash between the two leaves
            # an old hint with a new mirror — readers resolving via the
            # hint (the versioned path) are unaffected, and the mirror
            # is re-synced by the next commit's flip.
            snap = os.path.join(path, _snapshot_name(version))
            replace_file(
                os.path.join(path, MANIFEST_NAME),
                lambda tmp: shutil.copyfile(snap, tmp),
            )
            commit_marker(hint, version)
    finally:
        os.close(fd)
        os.unlink(lock)


def commit_snapshot(
    path: str, cluster_col: str, data_files: list[str] | None = None
) -> int:
    """Freeze a data-file listing + stats as the next manifest version
    and flip the current pointer to it. Returns the new version.

    ``data_files`` (basenames or paths under ``path``) pins the exact
    file set of the new version — the logical-delete half of compaction:
    replaced files stay on disk for old-version readers and are
    physically removed later by ``expire_snapshots``. Default is every
    non-underscore ``*.parquet`` under ``path``.

    Commit order is the crash-safe one: snapshot file first, THEN the
    hint — a crash between the two leaves an orphan snapshot and an
    older current, never a dangling pointer (and readers reject
    above-hint orphans, see read_manifest_version). The snapshot is
    PUBLISHED WITH os.link, which fails if the version already exists:
    that hard-link CAS makes concurrent committers safe — exactly one
    wins the version, the loser raises retryable CommitConflictError.
    Version numbering is max(snapshot files, hint) + 1, so a lost hint
    can never restart numbering and overwrite immutable history."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if data_files is None:
        files = sorted(
            p
            for p in glob.glob(os.path.join(path, "*.parquet"))
            if not os.path.basename(p).startswith("_")
        )
    else:
        files = sorted(os.path.join(path, os.path.basename(p)) for p in data_files)
    stats = file_stats(files, cluster_col)
    table = pa.table(
        {
            "file_name": [os.path.basename(s.path) for s in stats],
            "num_rows": [s.num_rows for s in stats],
            "min_value": [s.min_value for s in stats],
            "max_value": [s.max_value for s in stats],
        }
    )
    version = (
        max(manifest_versions(path) + [current_manifest_version(path) or 0]) + 1
    )
    import threading
    import uuid

    snap = os.path.join(path, _snapshot_name(version))
    tmp = snap + f".tmp.{os.getpid()}.{threading.get_ident()}.{uuid.uuid4().hex[:8]}"
    pq.write_table(table, tmp)
    try:
        os.link(tmp, snap)  # CAS: EEXIST iff another committer won this version
    except FileExistsError:
        raise CommitConflictError(
            f"snapshot v{version} already committed under {path}; "
            "re-read and retry"
        ) from None
    finally:
        os.unlink(tmp)
    # The unversioned _manifest.parquet mirror is written INSIDE the
    # hint flip, under the same lock and monotonic check — plain
    # last-writer-wins here could let the v-N committer overwrite the
    # v-N+1 committer's mirror after both CAS'd their versions.
    try:
        _flip_hint_monotonic(path, version)
    except HintLockTimeout as e:
        # The version was already durably claimed via os.link — this is
        # NOT a retryable conflict (re-committing would duplicate the
        # same table state under a new version). Surface the claimed
        # version so the caller can recover the succeeded commit.
        raise HintLockTimeout(
            f"snapshot v{version} was committed but its hint flip timed "
            f"out on a stale lock: {e}",
            claimed_version=version,
        ) from e
    return version


def expire_snapshots(
    path: str, keep_n: int, vacuum: bool = True
) -> dict[str, list]:
    """Retention: drop all but the newest ``keep_n`` COMMITTED snapshot
    versions, and (with ``vacuum``) physically delete data files that
    only the expired versions reference — the deferred half of
    compaction's logical delete. Never touches: files referenced by any
    kept version, files on disk but in no manifest (a concurrent
    committer's uncommitted batch), snapshots above the hint (an
    in-flight commit's unpublished version), or the unversioned
    `_manifest.parquet`. Run it from the single maintenance job, like
    Iceberg's expire_snapshots. Returns
    {"removed_versions": [...], "removed_files": [...]}."""
    if keep_n < 1:
        raise ValueError("keep_n must be >= 1 (the current version must survive)")
    committed = current_manifest_version(path)
    if committed is None:
        return {"removed_versions": [], "removed_files": []}
    versions = [v for v in manifest_versions(path) if v <= committed]
    kept = versions[-keep_n:]
    expired = [v for v in versions if v not in kept]
    if not expired:
        return {"removed_versions": [], "removed_files": []}
    kept_files: set[str] = set()
    for v in kept:
        kept_files.update(s.path for s in read_manifest_version(path, v))
    removed_files: list[str] = []
    if vacuum:
        expired_files: set[str] = set()
        for v in expired:
            expired_files.update(s.path for s in read_manifest_version(path, v))
        for p in sorted(expired_files - kept_files):
            if os.path.isfile(p):
                os.unlink(p)
                removed_files.append(os.path.basename(p))
    for v in expired:
        os.unlink(os.path.join(path, _snapshot_name(v)))
    return {"removed_versions": expired, "removed_files": removed_files}


def read_manifest_version(path: str, version: int | None = None) -> list[FileStat]:
    """Manifest rows of snapshot ``version`` (current when None) as
    FileStats with paths resolved under ``path``. Raises
    FileNotFoundError for a version that was never committed."""
    import pyarrow.parquet as pq

    committed = current_manifest_version(path)
    if version is None:
        version = committed
        if version is None:
            raise FileNotFoundError(f"no manifest snapshot committed under {path}")
    elif committed is not None and version > committed:
        # A snapshot file above the hint is a crash-orphan or an
        # in-flight commit: it was never published, so it is not
        # readable history (the advice's orphan-read hole).
        raise FileNotFoundError(
            f"manifest version {version} under {path} was never committed "
            f"(current is {committed})"
        )
    snap = os.path.join(path, _snapshot_name(version))
    if not os.path.isfile(snap):
        raise FileNotFoundError(snap)
    rows = pq.read_table(snap).to_pylist()
    return [
        FileStat(
            os.path.join(path, r["file_name"]),
            r["num_rows"],
            r["min_value"],
            r["max_value"],
        )
        for r in rows
    ]


def prune_with_manifest_version(
    path: str, version: int | None = None, lo: Any = None, hi: Any = None
) -> list[str]:
    """Range-prune against snapshot ``version``'s file set: the as-of
    query plan. Files appended after that commit are invisible by
    construction — snapshot isolation, not just pruning."""
    return prune_by_range(read_manifest_version(path, version), lo=lo, hi=hi)


def streaming_snapshot_commit(
    batch_df: DataFrame, batch_id: int, path: str, cluster_col: str
) -> int | None:
    """foreachBatch handler: land one micro-batch as a deterministic
    data file and commit it as the next manifest snapshot — a streaming
    job whose output is a queryable, TIME-TRAVELABLE table (every batch
    = one snapshot version, `read_manifest_version` serves any as-of
    state). Exactly-once across crash/restart: the batch's data file
    name is a pure function of batch_id (replay overwrites its own
    file, never appends), a replay of an already-committed batch is
    detected via the per-batch marker OR the committed manifest itself
    (covering the crash-between-commit-and-marker window) and skipped,
    so the straight run and any killed-and-restarted run produce the
    SAME snapshot chain. Commit conflicts (another committer racing the
    version) are retried — this batch's file is already on disk, so the
    retry just claims the next version. One streaming writer per table
    path, like Delta's transaction-log streaming sink; returns the
    committed version, or None for a fully-replayed batch.

    Wire-up: ``df.writeStream.foreachBatch(lambda b, i:
    streaming_snapshot_commit(b, i, path, col)).option(
    "checkpointLocation", ckpt).start()``."""
    os.makedirs(path, exist_ok=True)
    marker = marker_path(path, "batch", batch_id)
    if os.path.isfile(marker):
        return None  # replayed batch: fully committed before the restart
    fname = f"batch-{batch_id:08d}.parquet"
    committed = current_manifest_version(path)
    if committed is not None and any(
        os.path.basename(s.path) == fname
        for s in read_manifest_version(path, committed)
    ):
        # crash landed between commit and marker: heal the marker only
        commit_marker(marker, committed)
        return None
    publish_file(
        batch_df.coalesce(1).sortWithinPartitions(cluster_col),
        os.path.join(path, fname),
    )
    # Bounded retry on version conflicts ONLY: CommitConflictError means
    # another committer raced us to a version number and our file is
    # already on disk, so re-claiming the next version makes progress.
    # HintLockTimeout deliberately propagates — a stale lock makes every
    # "retry" mint a fresh orphan snapshot without ever flipping the
    # hint, so retrying it would loop forever writing garbage.
    for _ in range(64):
        try:
            version = commit_snapshot(path, cluster_col)
            break
        except CommitConflictError:
            continue  # our file is on disk; re-claim the next version
    else:
        raise CommitConflictError(
            f"batch {batch_id}: lost the version race 64 times under "
            f"{path} — a runaway concurrent committer; one streaming "
            "writer per table path is the contract"
        )
    commit_marker(marker, version)
    return version


def optimize_table(
    spark, path: str, cluster_col: str, target_rows: int
) -> int:
    """OPTIMIZE — the table-format lifecycle composition the three
    pieces (layout.compaction_groups' greedy plan, writers.write_compacted's
    rewrite, commit_snapshot's publish) exist for, wired end to end over
    a MANIFESTED table: plan compaction groups from the current
    snapshot's manifest listing (bounded by file count, zero data IO),
    rewrite each multi-file group as one cluster-sorted file, and commit
    the compacted file set as the NEXT snapshot. Returns the new
    version.

    Snapshot isolation is what makes this safe online: the replaced
    small files stay on disk and the PREVIOUS version still time-travels
    to byte-identical results; ``expire_snapshots`` later vacuums files
    no surviving version references. Single-file groups are carried
    into the new snapshot untouched (no rewrite amplification).
    Grouping follows compaction_groups' greedy-prefix rule —
    group = floor(rows_before / target_rows) in cluster order — so a
    group overshoots by at most one file and compacted files keep
    DISJOINT cluster ranges, preserving manifest range-pruning
    selectivity after the rewrite."""
    committed = current_manifest_version(path)
    if committed is None:
        raise FileNotFoundError(f"no manifest snapshot committed under {path}")
    stats = read_manifest_version(path, committed)
    order = sorted(
        stats,
        key=lambda s: (
            s.min_value is None,
            s.min_value,
            s.max_value is None,
            s.max_value,
            s.path,
        ),
    )
    groups: dict[int, list] = {}
    rows_before = 0
    for s in order:
        groups.setdefault(rows_before // target_rows, []).append(s)
        rows_before += s.num_rows
    new_files: list[str] = []
    for g, members in sorted(groups.items()):
        if len(members) == 1:
            new_files.append(os.path.basename(members[0].path))
            continue
        fname = f"compact-v{committed:04d}-g{g:04d}.parquet"
        publish_file(
            spark.read.parquet(*[s.path for s in members])
            .coalesce(1)
            .sortWithinPartitions(cluster_col),
            os.path.join(path, fname),
        )
        new_files.append(fname)
    return commit_snapshot(path, cluster_col, data_files=new_files)
