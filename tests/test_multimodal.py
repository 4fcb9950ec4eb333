"""Multimodal kernels (operators/multimodal.py) beyond oracle parity: the
Spark plumbing of the media operators, and kernels that give each row
its own bytes whatever rows share its Arrow batch."""

from __future__ import annotations

import pytest

from conftest import SF_SMALL


def _media(spark, rows):
    return spark.createDataFrame(
        rows, schema="doc_id long, media_type string, payload binary"
    )


def _together_and_alone(spark, op, rows):
    """``op``'s rows with every input row in one Arrow batch, and with
    each input row run on its own."""
    together = op(_media(spark, rows).coalesce(1)).collect()
    alone = [r for row in rows for r in op(_media(spark, [row])).collect()]
    return sorted(together), sorted(alone)


class TestMultimodalPlumbing:
    """Fan-out shape and fixed width of the media operators (the oracle
    parity test covers values; these cover the Spark plumbing)."""

    def test_frame_sample_fanout_shape(self, spark):
        from etl_moodle_and_mass_email_sending_spark.operators import (
            multimodal,
        )

        media = multimodal.media_table(spark, SF_SMALL)
        n_videos = media.filter("media_type = 'video'").count()
        frames = multimodal.sample_frames(media, every_n=2)
        rows = frames.collect()
        # every_n=2 over 8 slots capped at MAX_FRAMES → 4 frames per video
        assert len(rows) == n_videos * 4
        assert {r.frame_index for r in rows} == {0, 2, 4, 6}
        assert all(len(r.frame_hex) == 32 for r in rows)

    def test_features_fixed_width(self, spark):
        from etl_moodle_and_mass_email_sending_spark.operators import (
            multimodal,
        )

        media = multimodal.media_table(spark, SF_SMALL)
        fdf = multimodal.extract_features(media)
        feat_cols = [f"feat_{i}" for i in range(multimodal.N_FEATURES)]
        assert [c for c in fdf.columns if c.startswith("feat_")] == feat_cols
        feats = fdf.collect()
        assert all(
            0.0 <= getattr(r, c) <= 255.0 for r in feats for c in feat_cols
        )


def test_scene_changes_keep_each_video_on_its_own_frames(spark):
    """A 1-frame video batched with a 3-frame one still has 1 frame."""
    from etl_moodle_and_mass_email_sending_spark.operators import multimodal

    rows = [
        (1, "video", bytearray([0] * 8 + [15] * 8)),  # intensity 120
        (2, "video", bytearray(range(48))),
    ]
    together, alone = _together_and_alone(
        spark, multimodal.detect_scene_changes, rows
    )
    assert together == alone
    assert [(r.doc_id, r.frame_idx, r.intensity) for r in alone][:2] == [
        (1, 0, 120),
        (2, 0, sum(range(16))),
    ]
    assert len(alone) == 4


def test_audio_energy_keeps_each_clip_on_its_own_frames(spark):
    """A 1-frame clip batched with a 3-frame one still has 1 frame."""
    from etl_moodle_and_mass_email_sending_spark.operators import multimodal

    rows = [
        (1, "audio", bytearray([1] * 32)),
        (2, "audio", bytearray(range(64))),
    ]
    together, alone = _together_and_alone(
        spark, multimodal.audio_frame_energy, rows
    )
    assert together == alone
    assert [(r.doc_id, r.frame_idx, r.energy) for r in alone] == [
        (1, 0, 32),
        (2, 0, sum(range(32))),
        (2, 1, sum(range(16, 48))),
        (2, 2, sum(range(32, 64))),
    ]


def test_decode_media_reads_each_payload_head(spark):
    """Rows of different lengths decode as they do alone; a payload
    shorter than the 8-byte head raises instead of reading its batch
    neighbour's bytes."""
    from etl_moodle_and_mass_email_sending_spark.operators import multimodal

    rows = [
        (1, "image", bytearray([1, 0, 2, 0, 9, 9, 9, 9])),
        (2, "image", bytearray([3, 0, 4, 0, 9, 9, 9, 9, 9, 9, 9, 9])),
    ]
    together, alone = _together_and_alone(spark, multimodal.decode_media, rows)
    assert together == alone
    assert [(r.payload_len, r.width, r.height) for r in alone] == [
        (8, 1, 2),
        (12, 3, 4),
    ]
    short = _media(
        spark,
        [(1, "image", bytearray([1, 0, 2, 0])),
         (2, "image", bytearray([3, 0, 4, 0]))],
    ).coalesce(1)
    with pytest.raises(Exception, match="at least 8 bytes"):
        multimodal.decode_media(short).collect()


def test_phash_reads_each_payload_head(spark):
    """Rows of different lengths hash as they do alone; a payload
    shorter than the 64 bytes hashed raises."""
    from etl_moodle_and_mass_email_sending_spark.operators import multimodal

    rows = [
        (1, "image", bytearray(range(64))),
        (2, "image", bytearray(range(96, 0, -1))),
    ]
    together, alone = _together_and_alone(spark, multimodal.phash_images, rows)
    assert together == alone
    assert [r.phash for r in alone] == ["0" * 32 + "1" * 32, "1" * 32 + "0" * 32]
    short = _media(
        spark, [(1, "image", bytearray(range(64))), (2, "image", bytearray(32))]
    ).coalesce(1)
    with pytest.raises(Exception, match="at least 64 bytes"):
        multimodal.phash_images(short).collect()
