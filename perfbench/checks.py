"""Output checkers.  Each returns a list of problems; empty means correct.

A failed check counts the operation as failed (``failed`` in the
result line), exactly like a non-zero CLI return or an exception.
"""

from __future__ import annotations

import csv
import hashlib
import re
from pathlib import Path

from inputs import Manifest

_PATH_COL, _SUB_EN_COL = 17, 12


def read_db(db_dir: Path) -> tuple[list[list[str]], list[str]]:
    """Rows of a Spark-written TSV db (header line in every part file)
    and the raw data lines in part-file order."""
    rows, lines = [], []
    for part in sorted(db_dir.glob("part-*")):
        with part.open(encoding="utf-8", newline="") as fh:
            raw = fh.read().splitlines()
        lines.extend(raw[1:])
        rows.extend(csv.reader(raw[1:], delimiter="\t"))
    return rows, lines


def _paths(rows: list[list[str]]) -> list[str]:
    return [r[_PATH_COL] for r in rows]


def check_db_rows(rows: list[list[str]], man: Manifest) -> list[str]:
    """One row per readable video, no duplicates, subtitle flags right."""
    problems = []
    paths = _paths(rows)
    if len(paths) != len(set(paths)):
        problems.append(f"db has {len(paths) - len(set(paths))} duplicate paths")
    want = set(man.readable)
    if set(paths) != want:
        problems.append(
            f"db paths differ: {len(set(paths) - want)} unexpected, "
            f"{len(want - set(paths))} missing"
        )
    subs = set(man.with_sub_en)
    wrong = [r[_PATH_COL] for r in rows if (r[_SUB_EN_COL] == "Y") != (r[_PATH_COL] in subs)]
    if wrong:
        problems.append(f"{len(wrong)} rows with a wrong subtitle flag")
    return problems


_PROBED = re.compile(r"^files probed: (\d+), ok: (\d+), failed: (\d+)$", re.M)
_FAILURE = re.compile(r"^  (/.*?): ", re.M)
_VARIANT = re.compile(r"^  (.+): (\d+) variants$", re.M)
_MORE = "… and more"
#: Titles the CLI prints before it truncates the variant report.
_VARIANT_CAP = 200


def check_build(out: Path, stdout: str, man: Manifest) -> list[str]:
    """A ``-v`` build: db rows, dead letters and the variant report."""
    rows, _ = read_db(out / "metadata_db.tsv")
    problems = check_db_rows(rows, man)
    m = _PROBED.search(stdout)
    if not m or int(m.group(3)) != len(man.dead):
        problems.append(f"dead-letter count {m and m.group(3)} != {len(man.dead)}")
    listed = set(_FAILURE.findall(stdout.partition("failures:")[2]))
    if len(man.dead) <= 20 and listed != set(man.dead):
        problems.append("dead letters listed differ from the manifest")
    want = sorted(man.variants.items(), key=lambda kv: (-kv[1], kv[0]))[:_VARIANT_CAP]
    got = [(t, int(n)) for t, n in _VARIANT.findall(stdout)]
    if got != want:
        problems.append(f"variant report differs ({len(got)} titles shown, {len(want)} expected)")
    if (len(man.variants) > _VARIANT_CAP) != (_MORE in stdout):
        problems.append("variant report truncation marker wrong")
    return problems


_APPENDED = re.compile(r"^update: appended (\d+) new rows$", re.M)


def check_update(out: Path, stdout: str, man: Manifest, n_new: int) -> list[str]:
    """An update: db rows = old + new readable files, each once."""
    rows, _ = read_db(out / "metadata_db.tsv")
    problems = check_db_rows(rows, man)
    m = _APPENDED.search(stdout)
    if not m or int(m.group(1)) != n_new:
        problems.append(f"appended {m and m.group(1)} rows, expected {n_new}")
    return problems


def check_merge(merged_dir: Path, n_inputs: int) -> list[str]:
    """A merge: row count = sum of inputs, whole-line descending order."""
    rows, lines = read_db(merged_dir)
    problems = []
    if len(rows) != n_inputs:
        problems.append(f"merged {len(rows)} rows, inputs had {n_inputs}")
    keys = [ln.encode("utf-8") for ln in lines]
    bad = sum(1 for a, b in zip(keys, keys[1:]) if a < b)
    if bad:
        problems.append(f"{bad} adjacent merged lines out of descending order")
    return problems


def rows_digest(rows: list[tuple], cols: list[str]) -> tuple[int, str]:
    """Row count and an order-insensitive hash of the normalised values
    (normalised exactly as the oracle tests do)."""
    from tests.oracle_utils import _normalize

    norm = _normalize(rows, [c.lower() for c in cols])
    return len(norm), hashlib.sha256(repr(norm).encode()).hexdigest()


def check_query(name: str, rows: list[tuple], cols: list[str], conn) -> list[str]:
    """A registered query's rows against its DuckDB oracle."""
    from video_metadata_db_spark.plans import ORACLES

    res = conn.execute(ORACLES[name])
    duck_cols = [d[0] for d in res.description]
    got, want = rows_digest(rows, cols), rows_digest(res.fetchall(), duck_cols)
    if sorted(c.lower() for c in cols) != sorted(c.lower() for c in duck_cols):
        return [f"{name}: columns {cols} != oracle {duck_cols}"]
    if got != want:
        return [f"{name}: {got[0]} rows (hash {got[1][:12]}) != oracle {want[0]} rows (hash {want[1][:12]})"]
    return []
