"""The publish protocol of sinks/writers.py, pinned at each crash point.

Stores, dimensions and tables written by earlier versions must still
read and replay, so file names, marker names and marker payloads are
pinned here too.
"""

from __future__ import annotations

import glob
import os
import shutil
from datetime import datetime, timedelta

import pytest

from parquet_exporter_spark.sinks.writers import publish_once
from parquet_exporter_spark.streaming.partial_store import (
    commit_partial,
    committed_batches,
    read_partials,
)


def _partial(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], "v long")


def _bytes(paths):
    out = {}
    for p in paths:
        with open(p, "rb") as f:
            out[os.path.basename(p)] = f.read()
    return out


def test_partial_names_and_payloads_are_pinned(spark, tmp_path):
    store = str(tmp_path / "store")
    assert commit_partial(_partial(spark, [1, 2]), 0, store)
    assert sorted(os.listdir(store)) == [
        "_batch-0.committed",
        "cent-00000000-0000.parquet",
    ]
    with open(os.path.join(store, "_batch-0.committed")) as f:
        assert f.read() == "0"
    assert not commit_partial(_partial(spark, [9]), 0, store)  # replay no-op


def test_partial_crash_before_marker_is_invisible_and_replays_identically(
    spark, tmp_path, monkeypatch
):
    store = str(tmp_path / "store")
    assert commit_partial(_partial(spark, [1, 2]), 0, store)
    real_replace = os.replace

    def crash_on_marker(src, dst):
        if dst.endswith(".committed"):
            raise OSError("injected crash before marker")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", crash_on_marker)
    with pytest.raises(OSError, match="injected crash"):
        commit_partial(_partial(spark, [3, 4, 5]), 1, store)
    monkeypatch.setattr(os, "replace", real_replace)

    orphan = sorted(glob.glob(os.path.join(store, "cent-00000001-*.parquet")))
    assert orphan, "the moved parts should be on disk, uncommitted"
    orphan_bytes = _bytes(orphan)
    assert committed_batches(store) == [0]
    assert sorted(r.v for r in read_partials(spark, store).collect()) == [1, 2]
    assert not [f for f in os.listdir(store) if ".tmp." in f]

    assert commit_partial(_partial(spark, [3, 4, 5]), 1, store)
    replayed = sorted(glob.glob(os.path.join(store, "cent-00000001-*.parquet")))
    assert _bytes(replayed) == orphan_bytes
    assert committed_batches(store) == [0, 1]
    assert sorted(r.v for r in read_partials(spark, store).collect()) == [
        1, 2, 3, 4, 5,
    ]


def test_marker_without_files_raises(spark, tmp_path):
    store = str(tmp_path / "store")
    assert commit_partial(_partial(spark, [1]), 0, store)
    for p in glob.glob(os.path.join(store, "cent-*.parquet")):
        os.unlink(p)
    with pytest.raises(FileNotFoundError, match="marker for batch 0"):
        read_partials(spark, store)


def _write(path, name, text):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, name), "w") as f:
        f.write(text)


def _build_dirs(tmp_path):
    return [p for p in os.listdir(tmp_path) if ".build-" in p]


def test_publish_once_clears_incomplete_squatter(tmp_path):
    path = str(tmp_path / "idx")
    _write(path, "part-garbage", "crashed build")
    publish_once(path, lambda tmp: _write(tmp, "part-0", "fresh"))
    assert sorted(os.listdir(path)) == ["_COMPLETE", "part-0"]
    assert not _build_dirs(tmp_path)


def test_publish_once_keeps_complete_winner(tmp_path):
    path = str(tmp_path / "idx")

    def racing_build(tmp):
        # a concurrent build of the same source publishes first
        _write(path, "part-0", "winner")
        _write(path, "_COMPLETE", "")
        _write(tmp, "part-0", "loser")

    publish_once(path, racing_build)
    with open(os.path.join(path, "part-0")) as f:
        assert f.read() == "winner"
    assert not _build_dirs(tmp_path)

    def must_not_build(tmp):
        raise AssertionError("a complete directory is never rebuilt")

    publish_once(path, must_not_build)


def test_publish_once_failed_build_leaves_nothing(tmp_path):
    path = str(tmp_path / "idx")

    def failing_build(tmp):
        _write(tmp, "part-0", "half")
        raise RuntimeError("build died")

    with pytest.raises(RuntimeError, match="build died"):
        publish_once(path, failing_build)
    assert not os.path.exists(path)
    assert not _build_dirs(tmp_path)


class _StubWriter:
    """The ``df.write`` chain ``write_atomic_parquet`` calls, writing one
    marker file instead of parquet."""

    def mode(self, _mode):
        return self

    def option(self, *_args):
        return self

    def parquet(self, path):
        _write(path, "part-0", "new")


class _StubFrame:
    write = _StubWriter()


def test_atomic_publish_failed_migration_keeps_plain_directory(
    tmp_path, monkeypatch
):
    """A dataset in the plain-directory layout is moved aside before its
    first symlink flip; if the flip fails it must be put back."""
    from parquet_exporter_spark.sinks.writers import write_atomic_parquet

    view = str(tmp_path / "view")
    _write(view, "part-0", "old")
    real_rename = os.rename

    def fail_flip(src, dst):
        if ".lnk-" in src:
            raise OSError("injected failure at the flip")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", fail_flip)
    with pytest.raises(OSError, match="injected failure"):
        write_atomic_parquet(_StubFrame(), view)
    assert sorted(os.listdir(tmp_path)) == ["view"]
    with open(os.path.join(view, "part-0")) as f:
        assert f.read() == "old"


def test_scan_orc_rebuilds_over_incomplete_directory(spark, sf_dir):
    """A killed ORC write leaves its output directory behind (Spark
    creates it when the job starts); it must be rebuilt, not read."""
    from parquet_exporter_spark.registry import REGISTRY, _ensure_loaded
    from parquet_exporter_spark.tables import read_table, scratch_dir

    path = scratch_dir("orc_nation", os.path.join(sf_dir, "nation*"))
    shutil.rmtree(path, ignore_errors=True)
    _write(path, "part-00000-garbage.orc", "not orc")
    _ensure_loaded()
    got = REGISTRY["scan_orc"].raw_fn(spark, sf_dir).collect()
    want = (
        read_table(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert os.path.isfile(os.path.join(path, "_COMPLETE"))
    assert not os.path.exists(os.path.join(path, "part-00000-garbage.orc"))


def test_manifest_marker_and_hint_are_fsynced(spark, tmp_path, monkeypatch):
    from parquet_exporter_spark.sinks.manifest_sink import (
        VERSION_HINT,
        streaming_snapshot_commit,
    )

    path = str(tmp_path / "table")
    real_fsync = os.fsync
    synced = []

    def spy(fd):
        synced.append(os.path.basename(os.readlink(f"/proc/self/fd/{fd}")))
        return real_fsync(fd)

    monkeypatch.setattr(os, "fsync", spy)
    batch = spark.range(10).selectExpr("id AS k")
    assert streaming_snapshot_commit(batch, 0, path, "k") == 1
    names = {s.split(".tmp.")[0] for s in synced}
    assert {"_batch-0.committed", VERSION_HINT} <= names, synced
    assert "batch-00000000.parquet" in os.listdir(path)
    with open(os.path.join(path, "_batch-0.committed")) as f:
        assert f.read() == "1"
    assert not [f for f in os.listdir(path) if ".tmp." in f or "staging" in f]


def test_upsert_view_survives_failed_publish(spark, tmp_path, monkeypatch):
    """A batch whose publish dies at the rename leaves the previous view
    readable, and the restarted query's re-run gives the merged view."""
    from tests.test_streaming import _write_events

    from parquet_exporter_spark.streaming.upsert import upsert_to_parquet
    from parquet_exporter_spark.streaming.windows import read_stream

    d = str(tmp_path / "events")
    view = str(tmp_path / "view")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(d)
    base = datetime(2024, 1, 1)

    def run():
        stream = read_stream(spark, d, max_files_per_trigger=1).select(
            "user_id", "ts", "value"
        )
        q = upsert_to_parquet(
            stream, view, key_col="user_id", ts_col="ts", checkpoint_dir=ckpt
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    def view_rows():
        rows = spark.read.parquet(view).select("user_id", "value").collect()
        return {r.user_id: r.value for r in rows}

    _write_events(spark, [(1, base, 1, "a", 10.0, "{}")], d, "b1.parquet")
    run()
    assert view_rows() == {1: 10.0}

    _write_events(
        spark,
        [
            (2, base + timedelta(minutes=1), 1, "a", 42.0, "{}"),
            (3, base + timedelta(minutes=1), 2, "a", 7.0, "{}"),
        ],
        d,
        "b2.parquet",
    )
    real_rename, real_replace = os.rename, os.replace

    def fail_onto_view(rename):
        def wrapped(src, dst):
            if os.path.abspath(dst) == os.path.abspath(view):
                raise OSError("injected failure at the view rename")
            return rename(src, dst)

        return wrapped

    monkeypatch.setattr(os, "rename", fail_onto_view(real_rename))
    monkeypatch.setattr(os, "replace", fail_onto_view(real_replace))
    with pytest.raises(Exception, match="injected failure"):
        run()
    monkeypatch.setattr(os, "rename", real_rename)
    monkeypatch.setattr(os, "replace", real_replace)
    assert view_rows() == {1: 10.0}

    run()
    assert view_rows() == {1: 42.0, 2: 7.0}
