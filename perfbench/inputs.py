"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the seed: the media tree and its
manifest of expected outcomes, the new-file batch that update mode
picks up, the archived TSV dbs that merge mode consumes and the stub
ffprobe.  The program under test only ever sees the generated paths.
"""

from __future__ import annotations

import csv
import json
import random
import shlex
import stat
from dataclasses import asdict, dataclass, field
from pathlib import Path

# Title/year parsing strips these identifiers (functions/scalar.py), so
# files that differ only in them are variants of one title.
_IDENTS = ("", " [4K]", " [3D]", " [AV1]", " [AV1][4K]", " [3D][4K]")
_VIDEO_EXTS = ("mkv", "mp4", "avi", "MKV", "webm", "m4v")
_OTHER_EXTS = ("nfo", "jpg", "txt")
#: Substring that makes the stub ffprobe fail a path (the dead letters).
UNREADABLE = "unreadable"
#: Directory pruned by the lister (functions/scalar.DIRECTORY_FILTERS).
PRUNED_DIR = "Extras"
#: Share of the videos in a tree that are unreadable.
DEAD_SHARE = 0.01
#: Share of the readable videos that get an ``.en.srt`` sidecar.
SUB_SHARE = 0.20

TSV_HEADER = (
    "Width", "Height", "Duration (in s)", "Size", "Raw Size",
    "Video Codec Name", "AV1/HEVC Compression Candidate",
    "Total # of Streams", "Container Name",
    "# of Audio Channels (@Index 0)", "Audio Codec Name (@Index 0)",
    "Title", "Ext. English Subtitle Availability",
    "Ext. English Subtitle Size",
    "Ext. Hearing Impaired English Subtitle Availability",
    "Ext. Hearing Impaired English Subtitle Size",
    "Volume Label", "Path on Drive Label",
)


@dataclass
class Manifest:
    """Expected outcomes of probing a tree (paths are absolute)."""

    readable: list[str] = field(default_factory=list)
    dead: list[str] = field(default_factory=list)
    with_sub_en: list[str] = field(default_factory=list)
    #: title → number of readable variants, for titles with more than one
    variants: dict[str, int] = field(default_factory=dict)
    pruned: list[str] = field(default_factory=list)
    other: list[str] = field(default_factory=list)

    def write(self, path: Path) -> None:
        path.write_text(json.dumps(asdict(self), indent=1, sort_keys=True))

    def merged(self, batch: "Manifest") -> "Manifest":
        """This tree plus a batch of new titles."""
        out = Manifest(**asdict(self))  # asdict copies the lists
        for k in ("readable", "dead", "with_sub_en", "pruned", "other"):
            getattr(out, k).extend(getattr(batch, k))
        out.variants.update(batch.variants)
        return out


def _touch(path: Path) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    path.touch()


def make_tree(root: Path, seed: int, n_titles: int, first_title: int = 0) -> Manifest:
    """Create ``n_titles`` titles of empty variant files under ``root``.

    Half the titles have two variants and half three.  Exactly
    ``DEAD_SHARE`` of the videos are unreadable, ``SUB_SHARE`` of the
    readable ones get an ``.en.srt`` sidecar, one title in 20 has a file
    in a pruned ``Extras/`` directory and one in 10 a non-video file.
    The seed picks names and which files get each property; the counts
    depend only on ``n_titles``, so counters repeat across seeds.
    Titles are numbered from ``first_title`` so a later batch adds new
    titles.
    """
    rng = random.Random(f"tree:{seed}:{first_title}")
    titles = list(range(first_title, first_title + n_titles))
    three = set(rng.sample(titles, n_titles // 2))
    files: list[tuple[int, str, Path, str]] = []  # title, stem, dir, ext
    years = {}
    for t in titles:
        years[t] = 1950 + rng.randrange(70)
        coll = root / "Movies" / f"Collection {t % 40:02d}"
        for ident in rng.sample(_IDENTS, 3 if t in three else 2):
            stem = f"[{years[t]}] Title {t:05d}{ident}"
            files.append((t, stem, coll, rng.choice(_VIDEO_EXTS)))
    dead = set(rng.sample(range(len(files)), round(DEAD_SHARE * len(files))))
    ok = [i for i in range(len(files)) if i not in dead]
    subs = set(rng.sample(ok, round(SUB_SHARE * len(ok))))
    man = Manifest()
    n_ok: dict[int, int] = {}
    for i, (t, stem, coll, ext) in enumerate(files):
        if i in dead:
            stem = f"{stem} {UNREADABLE}"
        video = coll / f"{stem}.{ext}"
        _touch(video)
        if i in dead:
            man.dead.append(str(video))
            continue
        man.readable.append(str(video))
        n_ok[t] = n_ok.get(t, 0) + 1
        if i in subs:
            _touch(coll / f"{stem}.en.srt")
            man.with_sub_en.append(str(video))
    man.variants = {f"Title {t:05d}": n for t, n in n_ok.items() if n > 1}
    for t in rng.sample(titles, n_titles // 20):
        extra = root / "Movies" / f"Collection {t % 40:02d}" / PRUNED_DIR / f"[{years[t]}] Title {t:05d}.mkv"
        _touch(extra)
        man.pruned.append(str(extra))
    for t in rng.sample(titles, n_titles // 10):
        other = root / "Movies" / f"Collection {t % 40:02d}" / f"[{years[t]}] Title {t:05d}.{rng.choice(_OTHER_EXTS)}"
        _touch(other)
        man.other.append(str(other))
    for k in ("readable", "dead", "with_sub_en", "pruned", "other"):
        getattr(man, k).sort()
    return man


def write_archive_db(path: Path, seed: int, n_rows: int) -> None:
    """An archived TSV db of ``n_rows`` rows in the sink's format (header
    line, 18 tab-separated columns, no empty cells)."""
    rng = random.Random(f"archive:{seed}:{path.name}")
    dims = (("1920", "1080"), ("3840", "2160"), ("1280", "720"))
    path.parent.mkdir(parents=True, exist_ok=True)
    with path.open("w", newline="", encoding="utf-8") as fh:
        w = csv.writer(fh, delimiter="\t", lineterminator="\n")
        w.writerow(TSV_HEADER)
        for i in range(n_rows):
            width, height = rng.choice(dims)
            size = rng.randrange(10**8, 10**10)
            sub = rng.random() < 0.2
            w.writerow((
                width, height, "1h23m45s", f"{size / 2**30:.1f}GiB", str(size),
                "H.264 / AVC / MPEG-4 AVC / MPEG-4 part 10", "Y", "2",
                "Matroska / WebM", "6", "AAC (Advanced Audio Coding)",
                "<Title Not Set>", "Y" if sub else "N",
                str(rng.randrange(10**4, 10**5)) if sub else "0", "N", "0",
                f"archive{seed % 7}",
                f"/archive/{path.stem}/Collection {i % 97:02d}/[{1950 + i % 70}] "
                f"Archived {i:07d}.mkv",
            ))


STUB_TEMPLATE = r"""#!/bin/bash
# Stand-in for ffprobe: sleeps a fixed time in place of media I/O, fails
# paths containing "{unreadable}", prints ffprobe-shaped JSON otherwise,
# and appends "start<TAB>end<TAB>exit<TAB>path" to its call log.
LC_ALL=C
t0=$EPOCHREALTIME
for p; do :; done
sleep {sleep_s}
case "$p" in
  *{unreadable}*)
    rc=1
    echo "stub ffprobe: cannot read $p" >&2 ;;
  *)
    rc=0
    case "$p" in
      *"[4K]"*) w=3840; h=2160 ;;
      *) w=1920; h=1080 ;;
    esac
    printf '{{"format": {{"nb_streams": 2, "format_long_name": "Matroska / WebM", "duration": "5025.0"}}, "streams": [{{"codec_type": "video", "codec_long_name": "H.264 / AVC / MPEG-4 AVC / MPEG-4 part 10", "width": %d, "height": %d}}, {{"codec_type": "audio", "codec_long_name": "AAC (Advanced Audio Coding)", "channels": 6}}]}}\n' "$w" "$h" ;;
esac
printf '%s\t%s\t%d\t%s\n' "$t0" "$EPOCHREALTIME" "$rc" "$p" >> {log}
exit $rc
"""


def write_stub(path: Path, log: Path, sleep_s: float) -> None:
    """Write the logging stub ffprobe to ``path`` (executable)."""
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(STUB_TEMPLATE.format(
        unreadable=UNREADABLE, sleep_s=sleep_s, log=shlex.quote(str(log))))
    path.chmod(path.stat().st_mode | stat.S_IXUSR | stat.S_IXGRP | stat.S_IXOTH)


@dataclass
class ProbeCalls:
    """Counts over a set of stub calls."""

    calls: int = 0
    failed: int = 0
    paths: int = 0
    busy_s: float = 0.0
    span_s: float = 0.0
    max_inflight: int = 0


#: One logged stub call: (start, end, exit status, path).
Call = tuple[float, float, int, str]


def parse_stub_log(lines: list[str]) -> list[Call]:
    """Parse stub log lines (``start end exit path``, tab-separated)."""
    calls = []
    for line in lines:
        if not line.strip():
            continue
        t0, t1, rc, p = line.rstrip("\n").split("\t", 3)
        calls.append((float(t0), float(t1), int(rc), p))
    return calls


def summarise_calls(calls: list[Call]) -> ProbeCalls:
    if not calls:
        return ProbeCalls()
    # at equal times an end sorts before a start: touching calls do not overlap
    events = sorted([(c[0], 1) for c in calls] + [(c[1], -1) for c in calls])
    inflight = peak = 0
    for _, d in events:
        inflight += d
        peak = max(peak, inflight)
    return ProbeCalls(
        calls=len(calls),
        failed=sum(1 for c in calls if c[2] != 0),
        paths=len({c[3] for c in calls}),
        busy_s=sum(c[1] - c[0] for c in calls),
        span_s=max(c[1] for c in calls) - min(c[0] for c in calls),
        max_inflight=peak,
    )


class StubLog:
    """Reads the stub's call log incrementally."""

    def __init__(self, path: Path):
        self.path = path
        self.offset = 0

    def take(self) -> list[Call]:
        """Calls logged since the previous ``take``."""
        try:
            with self.path.open("r", encoding="utf-8") as fh:
                fh.seek(self.offset)
                lines = fh.readlines()
                self.offset = fh.tell()
        except FileNotFoundError:
            return []
        return parse_stub_log(lines)
