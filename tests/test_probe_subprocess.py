"""The REAL subprocess probe path, end-to-end under mapInPandas.

The container has no ffprobe, so every prior round exercised
``probe_videos`` only via ``probe_from_fixture``.  Here a synthetic
executable stands in for ffprobe — success emits the reference-shaped
JSON (format + streams, video_metadata_db.py:596-634), failure paths
exit nonzero, slow paths hang — so JSON parsing, dead-lettering, and
the timeout kill all run through the actual ``subprocess.run`` code on
executors, not a fixture join.
"""

from __future__ import annotations

import stat
from pathlib import Path

import pytest

from video_metadata_db_spark.operators.probe import probe_videos

_FAKE_FFPROBE = r"""#!/bin/sh
# deterministic ffprobe stand-in: behavior keyed on the input path
# (last argument).  Echoes its argv into tags.title so tests can assert
# the exact invocation that reached the process boundary.  Every call
# appends its path to "<this script>.log", so tests can count probes.
for last; do :; done
echo "$last" >> "$0.log"
case "$last" in
  *bad*)  echo "boom: cannot open '$last'" >&2; exit 1 ;;
  *slow*) sleep 30 ;;
esac
cat <<EOF
{"format": {"nb_streams": 2, "format_long_name": "Fake Container",
            "duration": "12.5", "tags": {"title": "argv:$*"}},
 "streams": [
   {"codec_type": "video", "codec_long_name": "Fake Video",
    "width": 640, "height": 360},
   {"codec_type": "audio", "codec_long_name": "Fake Audio", "channels": 2}]}
EOF
"""


@pytest.fixture(scope="module")
def fake_ffprobe(tmp_path_factory) -> str:
    p = tmp_path_factory.mktemp("fakebin") / "ffprobe"
    p.write_text(_FAKE_FFPROBE)
    p.chmod(p.stat().st_mode | stat.S_IXUSR | stat.S_IXGRP | stat.S_IXOTH)
    return str(p)


def _listing(spark, paths: list[str]):
    return spark.createDataFrame([(p,) for p in paths], "path string")


def test_probe_subprocess_success_and_dead_letter(spark, fake_ffprobe):
    rows = {
        r["path"]: r.asDict()
        for r in probe_videos(
            _listing(spark, ["/v/ok.mkv", "/v/bad.mkv"]), ffprobe_bin=fake_ffprobe
        ).collect()
    }
    ok = rows["/v/ok.mkv"]
    assert ok["error"] is None
    assert ok["video_codec"] == "Fake Video"
    assert (ok["width"], ok["height"]) == (640, 360)
    assert ok["container"] == "Fake Container"
    assert ok["duration_s"] == 12.5
    assert ok["n_streams"] == 2
    assert (ok["audio_codec"], ok["audio_channels"]) == ("Fake Audio", 2)
    # nonzero exit → dead-letter row carrying stderr, job never dies
    bad = rows["/v/bad.mkv"]
    assert bad["error"] and "boom" in bad["error"]
    assert bad["video_codec"] is None


def test_probe_subprocess_timeout_dead_letters(spark, fake_ffprobe):
    rows = probe_videos(
        _listing(spark, ["/v/slow.mkv"]), ffprobe_bin=fake_ffprobe, timeout_s=1
    ).collect()
    assert len(rows) == 1
    assert rows[0]["error"] and "timeout" in rows[0]["error"]


def test_probe_subprocess_field_narrowing_reaches_process(spark, fake_ffprobe):
    """fields=video-only must change the ACTUAL argv at the process
    boundary (-select_streams v), not just the output projection — the
    fake echoes argv back through tags.title."""
    df = probe_videos(
        _listing(spark, ["/v/ok.mkv"]),
        fields=("video_codec", "width", "height", "title"),
        ffprobe_bin=fake_ffprobe,
    )
    assert set(df.columns) == {"path", "video_codec", "width", "height", "title", "error"}
    row = df.collect()[0]
    assert row["error"] is None
    assert "-select_streams v" in row["title"]
    assert row["title"].startswith("argv:")
