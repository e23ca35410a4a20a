"""End-to-end multimodal ingest on REAL bytes: a directory of genuine
PNG/WAV files (plus a corrupt blob, a tiny image, and a near-duplicate
pair) goes through scan -> decode -> quarantine -> quality gate ->
perceptual dedup -> partitioned write, and the card reconciles."""

from __future__ import annotations

import os

import numpy as np
import pytest

from parquet_exporter_spark.operators import codecs
from parquet_exporter_spark.pipeline_media import ingest_media


@pytest.fixture(scope="module")
def media_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("media_in")
    base = np.zeros((32, 32), dtype=np.uint8)
    base[8:24, 8:24] = 255
    tweaked = base.copy()
    tweaked[0, 0] = 25  # near-dup: same aHash bucket
    inverted = 255 - base
    (d / "a_base.png").write_bytes(codecs.encode_png(base))
    (d / "b_neardup.png").write_bytes(codecs.encode_png(tweaked))
    (d / "c_distinct.png").write_bytes(codecs.encode_png(inverted))
    (d / "tiny.png").write_bytes(
        codecs.encode_png(np.full((4, 4), 9, dtype=np.uint8))
    )  # 16 px < min_pixels
    t = np.arange(800) / 8000.0
    wav = codecs.encode_wav(0.25 * np.sin(2 * np.pi * 200 * t), 8000)
    (d / "tone.wav").write_bytes(wav)
    (d / "tone_copy.wav").write_bytes(wav)  # exact payload dup
    good = codecs.encode_png(base)
    (d / "broken.png").write_bytes(good[: len(good) // 2])  # truncated
    (d / "notes.txt").write_bytes(b"just text, kept as octet-stream")
    return str(d)


def test_media_ingest_end_to_end(spark, media_dir, tmp_path):
    out = str(tmp_path / "media_out")
    card = ingest_media(spark, media_dir, out, min_pixels=64)

    # near-dup PNGs collapse to one kept file; distinct survives
    n_png, _, png_dups = card["kept"]["png"]
    assert n_png == 2, card
    assert png_dups == 1
    # exact-dup WAV collapses
    n_wav, _, wav_dups = card["kept"]["wav"]
    assert n_wav == 1 and wav_dups == 1
    # text file routed onward, not dropped
    assert card["kept"]["octet-stream"][0] == 1
    # quarantine: 1 corrupt + 1 too-small, auditable partitions
    assert card["rejected"] == {"corrupt": 1, "too_small": 1}
    assert os.path.isdir(os.path.join(out, "quarantine", "reject_reason=corrupt"))

    kept = spark.read.parquet(os.path.join(out, "kept"))
    rows = {r.path.rsplit("/", 1)[-1]: r for r in kept.collect()}
    # dedup keeps the lexicographically first path of each group
    assert "a_base.png" in rows and "b_neardup.png" not in rows
    assert rows["a_base.png"].n_copies == 2
    assert rows["a_base.png"].width == 32 and rows["a_base.png"].height == 32
    # determinism: re-running produces the same card
    out2 = str(tmp_path / "media_out2")
    assert ingest_media(spark, media_dir, out2, min_pixels=64) == card


def test_media_ingest_with_nothing_quarantined(spark, tmp_path):
    """A clean input writes a zero-row quarantine: the card must read it
    back as empty, not fail to infer a schema from a directory with no
    data file."""
    d = tmp_path / "clean_in"
    d.mkdir()
    img = np.zeros((32, 32), dtype=np.uint8)
    img[8:24, 8:24] = 255
    (d / "only.png").write_bytes(codecs.encode_png(img))
    card = ingest_media(spark, str(d), str(tmp_path / "clean_out"), min_pixels=64)
    assert card["rejected"] == {}
    assert card["kept"]["png"][0] == 1
