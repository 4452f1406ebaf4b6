"""End-to-end CLI tests: ``python -m video_metadata_db_spark`` over a
real temp directory tree with a parquet probe fixture (ffprobe absent
in CI).  Covers build, update idempotence, merge, and the nomedia
side-effect — the reference's full command surface (SURVEY.md §3,
video_metadata_db.py:850-915, :1475-1602).
"""

from __future__ import annotations

import os
import stat
from pathlib import Path

import pytest

from video_metadata_db_spark.__main__ import main
from video_metadata_db_spark.schemas import PROBE_SCHEMA
from video_metadata_db_spark.sources.tsv import read_metadata_tsv
from tests.test_probe_subprocess import _FAKE_FFPROBE


def _fake_ffprobe(tmp_path) -> Path:
    """Install the fake ffprobe; each call appends its path to
    ``<binary>.log`` (read back with ``_probe_calls``)."""
    fakebin = tmp_path / "bin"
    fakebin.mkdir()
    p = fakebin / "ffprobe"
    p.write_text(_FAKE_FFPROBE)
    p.chmod(p.stat().st_mode | stat.S_IXUSR)
    return p


def _probe_calls(fake: Path) -> list[str]:
    """Sorted paths ffprobe was called on since the last read; resets the log."""
    log = Path(f"{fake}.log")
    calls = sorted(log.read_text().splitlines()) if log.exists() else []
    log.unlink(missing_ok=True)
    return calls


@pytest.fixture()
def media_tree(tmp_path):
    root = tmp_path / "media"
    (root / "Extras").mkdir(parents=True)  # filtered directory
    files = {
        "[2009] Avatar [4K].mkv": b"x" * 100,
        "[2009] Avatar.mp4": b"y" * 50,
        "[1999] Matrix.mkv": b"z" * 75,
        "notes.txt": b"not a video",
        os.path.join("Extras", "[1999] Matrix.avi"): b"pruned",
    }
    for rel, content in files.items():
        (root / rel).write_bytes(content)
    (root / "[2009] Avatar [4K].en.srt").write_bytes(b"s" * 10)
    return str(root)


@pytest.fixture()
def probe_fixture(spark, media_tree, tmp_path):
    rows = []
    for fname, w, h in [
        ("[2009] Avatar [4K].mkv", 3840, 2160),
        ("[2009] Avatar.mp4", 1920, 1080),
        ("[1999] Matrix.mkv", 1280, 720),
    ]:
        rows.append(
            (
                os.path.join(media_tree, fname),
                "H.264 / AVC", w, h, 2, "Matroska / WebM", 5400.0,
                None, "AAC", 2, None,
            )
        )
    path = str(tmp_path / "probe_fixture.parquet")
    spark.createDataFrame(rows, PROBE_SCHEMA).write.parquet(path)
    return path


def test_cli_build_writes_sorted_db(spark, media_tree, probe_fixture, tmp_path, capsys):
    out = str(tmp_path / "out")
    rc = main([media_tree, "--output", out, "--probe-fixture", probe_fixture, "-v"])
    assert rc == 0
    stdout = capsys.readouterr().out
    assert "db written" in stdout
    assert "Avatar" in stdout  # variant report found the 2-variant title
    # stats come from the Observation riding the sink action (no extra pass)
    assert "files probed: 3, ok: 3, failed: 0" in stdout

    db = read_metadata_tsv(spark, os.path.join(out, "metadata_db.tsv"), header=True)
    rows = db.collect()
    # 3 videos probed; notes.txt filtered by extension; Extras/ pruned
    assert len(rows) == 3
    by_width = {r["Width"] for r in rows}
    assert by_width == {"3840", "1920", "1280"}
    # cells are written verbatim: {:>4} padding and the single-space
    # "no subtitle" size survive the CSV writer
    assert {r["Height"] for r in rows} == {"2160", "1080", " 720"}
    assert sorted(r["Ext. English Subtitle Size"] for r in rows) == [" ", " ", "10"]
    srt = [r for r in rows if r["Ext. English Subtitle Availability"] == "Y"]
    assert len(srt) == 1 and srt[0]["Ext. English Subtitle Size"] == "10"


def test_cli_update_is_idempotent(spark, media_tree, probe_fixture, tmp_path, capsys):
    out = str(tmp_path / "out")
    assert main([media_tree, "--output", out, "--probe-fixture", probe_fixture]) == 0
    # update with no new files appends nothing (SURVEY §5.4 property)
    assert main(["-u", media_tree, "--output", out, "--probe-fixture", probe_fixture]) == 0
    stdout = capsys.readouterr().out
    assert "appended 0 new rows" in stdout
    # every file is already in the db: nothing reaches the probe
    assert "files probed: 0, ok: 0, failed: 0" in stdout
    db = read_metadata_tsv(spark, os.path.join(tmp_path, "out", "metadata_db.tsv"), header=True)
    assert db.count() == 3


def test_cli_update_refuses_unreadable_db(media_tree, probe_fixture, tmp_path, capsys):
    """Only a missing db degenerates to a build; a db that exists but
    cannot be read fails the run (non-zero exit from ``python -m``) and
    the db is left as it was — never silently re-appended in full."""
    args = [media_tree, "--format", "parquet", "--probe-fixture", probe_fixture]
    db = tmp_path / "out" / "metadata_db.parquet"
    db.mkdir(parents=True)
    (db / "part-00000.parquet").write_bytes(b"not a parquet file\n" * 8)
    before = {p.name: p.read_bytes() for p in db.iterdir()}
    with pytest.raises(Exception):
        main(["-u", *args, "--output", str(tmp_path / "out")])
    assert {p.name: p.read_bytes() for p in db.iterdir()} == before

    assert main(["-u", *args, "--output", str(tmp_path / "fresh")]) == 0
    assert "update: appended 3 new rows" in capsys.readouterr().out


def test_cli_probes_each_file_once(spark, media_tree, tmp_path, capsys):
    """One ffprobe call per video.  A build (plain,
    ``-v``, ``-p``) probes each video once; ``-u`` probes only what the
    db lacks — new files plus earlier dead letters, which the reference
    retries too (:579-582); ``-m`` never probes.  The dead-letter report
    is the same on every run."""
    fake = _fake_ffprobe(tmp_path)
    bad = os.path.join(media_tree, "[2001] Broken bad.mkv")
    Path(bad).write_bytes(b"")
    videos = sorted(
        os.path.join(media_tree, n)
        for n in ("[2009] Avatar [4K].mkv", "[2009] Avatar.mp4", "[1999] Matrix.mkv")
    )
    out = str(tmp_path / "out")
    common = ["--output", out, "--ffprobe-bin", str(fake)]

    def failure_lines(stdout: str) -> list[str]:
        return [ln for ln in stdout.splitlines() if ln.startswith(f"  {bad}: ")]

    for flags in ([], ["-v"], ["-p"]):
        assert main([media_tree, *flags, *common]) == 0
        assert _probe_calls(fake) == sorted([*videos, bad])
        stdout = capsys.readouterr().out
        assert "files probed: 4, ok: 3, failed: 1" in stdout
        assert failure_lines(stdout) == [f"  {bad}: boom: cannot open '{bad}'"]
    assert "files to probe: 4" in stdout  # the -p headcount

    new = sorted(os.path.join(media_tree, n) for n in ("[2010] Inception.mkv", "[2010] Up.mp4"))
    for p in new:
        Path(p).write_bytes(b"n")
    assert main(["-u", media_tree, *common]) == 0
    assert _probe_calls(fake) == sorted([*new, bad])
    stdout = capsys.readouterr().out
    assert "update: appended 2 new rows" in stdout
    assert "files probed: 3, ok: 2, failed: 1" in stdout
    assert failure_lines(stdout) == [f"  {bad}: boom: cannot open '{bad}'"]
    db = os.path.join(out, "metadata_db.tsv")
    paths = [r["Path on Drive Label"] for r in read_metadata_tsv(spark, db, header=True).collect()]
    assert sorted(paths) == sorted([*videos, *new])

    assert main(["-m", db, "--output", str(tmp_path / "m")]) == 0
    assert _probe_calls(fake) == []


def test_cli_merge_unions_and_sorts(spark, media_tree, probe_fixture, tmp_path):
    out_a, out_b = str(tmp_path / "a"), str(tmp_path / "b")
    for out in (out_a, out_b):
        assert main([media_tree, "--output", out, "--probe-fixture", probe_fixture]) == 0
    merged_dir = str(tmp_path / "m")
    rc = main([
        "-m",
        os.path.join(out_a, "metadata_db.tsv"),
        os.path.join(out_b, "metadata_db.tsv"),
        "--output", merged_dir,
    ])
    assert rc == 0
    merged = read_metadata_tsv(
        spark, os.path.join(merged_dir, "metadata_db_merged.tsv"), header=True
    )
    assert merged.count() == 6  # union-all keeps duplicates (:1345-1357)


def test_cli_nomedia_markers(media_tree, probe_fixture, tmp_path, capsys):
    out = str(tmp_path / "out")
    rc = main(["-n", media_tree, "--output", out, "--probe-fixture", probe_fixture])
    assert rc == 0
    assert os.path.exists(os.path.join(media_tree, "Extras", ".nomedia"))


def test_cli_no_audio_elides_probe_and_schema(spark, media_tree, tmp_path):
    """--no-audio end-to-end (VERDICT r6 item 5): the parquet db drops
    the audio columns AND the ffprobe invocation itself narrows to
    `-select_streams v` — asserted through the fake binary's argv echo
    (tags.title), i.e. at the real process boundary of the build-mode
    plan, not just in ffprobe_args unit space.  (--ffprobe-bin, not a
    PATH monkeypatch: executor workers inherit the JVM's env from
    session start, so PATH edits in the test process never reach the
    subprocess.)"""
    p = _fake_ffprobe(tmp_path)
    out = str(tmp_path / "out")
    rc = main(
        [media_tree, "--output", out, "--format", "parquet", "--no-audio",
         "--ffprobe-bin", str(p)]
    )
    assert rc == 0
    db = spark.read.parquet(os.path.join(out, "metadata_db.parquet"))
    assert "audio_codec" not in db.columns
    assert "audio_channels" not in db.columns
    assert "video_codec" in db.columns and "width" in db.columns
    rows = db.collect()
    assert len(rows) == 3
    for r in rows:
        assert "-select_streams v" in r["title"]  # argv echo from the fake


def test_cli_no_audio_rejects_tsv_sink(media_tree, tmp_path):
    """The reference TSV db format is fixed (18 columns, audio
    included) — elision is a native-sink feature."""
    with pytest.raises(SystemExit):
        main([media_tree, "--output", str(tmp_path / "o"), "--no-audio"])
