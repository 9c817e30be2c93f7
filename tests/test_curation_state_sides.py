"""CurationState side tables (embed / image / audio / video), driven
through ``CurationState`` directly on 2-3 docs so every side's state
code runs in the default test path: the manifest each side lands (file
name and keys pinned as literals — the on-disk format older states
were written in), validation of a hand-written manifest of that
format, the refusal to append a side over a state landed without it,
and ``backfill``."""

from __future__ import annotations

import json
import os
import re

import pytest

from clickhouse_mysql_data_reader_spark.curation import _SIDES, CurationState

# side -> (ctor kwargs enabling it, manifest file, manifest payload)
_PINNED = {
    "embed": (
        dict(embed_dim=4),
        "_embed_params.json",
        {"embed_dim": 4, "embed_bits": 32, "embed_srp_bands": 4, "embed_seed": "srp"},
    ),
    "image": (
        dict(image_grid_w=7),
        "_image_params.json",
        {"image_grid_w": 7, "image_grid_h": 8, "image_decoder": "md5-blocked-fake"},
    ),
    "audio": (
        dict(audio_n_windows=49),
        "_audio_params.json",
        {"audio_n_windows": 49, "audio_decoder": "md5-blocked-fake"},
    ),
    "video": (
        dict(video_every_ms=1000),
        "_video_params.json",
        {
            "video_every_ms": 1000,
            "video_grid_w": 7,
            "video_grid_h": 8,
            "video_decoder": "md5-blocked-fake",
        },
    ),
}

_SCHEMA = (
    "doc_id long, text string, embedding array<double>, image binary, "
    "audio binary, video binary, video_ms long"
)

sides = pytest.mark.parametrize("side", _SIDES, ids=lambda s: s.name)


def _docs(spark, ids):
    return spark.createDataFrame(
        [
            (
                i,
                f"document {i} carries a few words of its own text {i}",
                [float(i), 1.0, 0.0, 0.5],
                f"img-{i}".encode() * 20,
                f"aud-{i}".encode() * 20,
                f"vid-{i}".encode() * 40,
                2500,
            )
            for i in ids
        ],
        _SCHEMA,
    )


def _ids(state, spark, side):
    return {
        t: {r["doc_id"] for r in state.read(spark, t).select("doc_id").collect()}
        for t in side.tables
    }


def test_every_side_is_pinned():
    assert set(_PINNED) == {s.name for s in _SIDES}


@sides
def test_first_write_lands_pinned_manifest(spark, tmp_path, side):
    kw, manifest, payload = _PINNED[side.name]
    state = CurationState(str(tmp_path / "st"), **kw)
    state.write(_docs(spark, [1, 2]))
    with open(tmp_path / "st" / manifest) as fh:
        assert json.load(fh) == payload
    assert state.landed(spark, side.name)
    assert _ids(state, spark, side) == {t: {1, 2} for t in side.tables}


@sides
def test_hand_written_manifest_validates_and_drift_is_refused(spark, tmp_path, side):
    kw, manifest, payload = _PINNED[side.name]
    ok_dir = tmp_path / "ok"
    os.makedirs(ok_dir)
    (ok_dir / manifest).write_text(json.dumps(payload))
    state = CurationState(str(ok_dir), **kw)
    state.write(_docs(spark, [1, 2]))
    assert state.landed(spark, side.name)

    key = next(iter(payload))
    drifted = {**payload, key: payload[key] + 1}
    bad_dir = tmp_path / "bad"
    os.makedirs(bad_dir)
    (bad_dir / manifest).write_text(json.dumps(drifted))
    with pytest.raises(ValueError, match="derived with"):
        CurationState(str(bad_dir), **kw).write(_docs(spark, [1, 2]))
    # a handle without the side over its landed manifest is refused too
    with pytest.raises(ValueError, match=f"constructed without {side.enabled_by}"):
        CurationState(str(ok_dir)).write(_docs(spark, [3]))


@sides
def test_enabling_over_landed_state_needs_backfill(spark, tmp_path, side):
    kw, _, _ = _PINNED[side.name]
    state_dir = str(tmp_path / "legacy")
    CurationState(state_dir).write(_docs(spark, [1, 2, 3]))
    upgraded = CurationState(state_dir, **kw)
    assert not upgraded.landed(spark, side.name)
    with pytest.raises(ValueError, match=re.escape(f"backfill({side.name!r}")):
        upgraded.write(_docs(spark, [4]))

    upgraded.backfill(side.name, _docs(spark, [1, 2, 3]))
    assert upgraded.landed(spark, side.name)
    assert _ids(upgraded, spark, side) == {t: {1, 2, 3} for t in side.tables}

    # a second backfill does nothing, even with another corpus
    listing = {t: sorted(os.listdir(f"{state_dir}/{t}")) for t in side.tables}
    upgraded.backfill(side.name, _docs(spark, [9]))
    assert {t: sorted(os.listdir(f"{state_dir}/{t}")) for t in side.tables} == listing
    assert _ids(upgraded, spark, side) == {t: {1, 2, 3} for t in side.tables}
