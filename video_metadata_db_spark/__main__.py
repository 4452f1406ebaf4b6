"""CLI entry point — parity with the reference's command-line surface.

The reference is invoked as ``python video_metadata_db.py [flags]
<paths...>`` (``cmd_line_parse``, video_metadata_db.py:850-915; mode
dispatch in ``main``, :1475-1602).  Same surface here::

    python -m video_metadata_db_spark [flags] <paths...>

Flags (mirroring :856-905):
    -p / --percentage-completion   pre-pass file count + progress line
    -n / --nomedia                 drop .nomedia markers in filtered dirs
    -v / --verbose                 print the variant report at the end
    -u / --update                  update mode: probe only files not in db
    -m / --merge                   merge mode: inputs are TSV dbs

Engine-side additions (no reference analogue):
    --output DIR        where db directories are written (default cwd)
    --probe-fixture P   parquet of probe results keyed by path — the CI
                        path when ffprobe is absent (PROBE_SCHEMA cols)
    --format tsv|parquet  sink format (parquet = the engine-native form)

Mode dispatch mirrors §3: build (default) = list → filter → probe →
sidecar join → sorted per-volume TSV; update = a left-anti join of
the listing against the db's paths BEFORE the probe, so only new files
and earlier dead letters are probed, then append (:579-582); merge =
union-all + whole-line sort + header (:1361-1456).  The probe output is
materialized once per run; the counts, dead letters, variant report and
sink all read it.  Every stage is a DataFrame — the thread pool, the
five mutexes, and the external OS ``sort`` of the reference have no
equivalent here by design.
"""

from __future__ import annotations

import argparse
import os
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _parse_args(argv: list[str]) -> argparse.Namespace:
    parser = argparse.ArgumentParser(
        prog="python -m video_metadata_db_spark",
        description=(
            "Reads metadata (resolution, size, title, etc.) from video files "
            "and dumps all in a tab separated values (TSV) database — "
            "PySpark edition"
        ),
    )
    parser.add_argument(
        "-p", "--percentage-completion", action="store_true", dest="percentage",
        help="Count files up front and report the total (progress pre-pass)",
    )
    parser.add_argument(
        "-n", "--nomedia", action="store_true",
        help="Create a .nomedia marker file in each filtered directory",
    )
    parser.add_argument(
        "-v", "--verbose", action="store_true",
        help="Verbose output; prints the variant report after the build",
    )
    group = parser.add_mutually_exclusive_group()
    group.add_argument(
        "-u", "--update", action="store_true", dest="update_mode",
        help="Update the metadata db with files not already present",
    )
    group.add_argument(
        "-m", "--merge", action="store_true", dest="merge_mode",
        help="Consolidate multiple TSV metadata dbs into a single file",
    )
    parser.add_argument("--output", default=".", help="Output directory for db files")
    parser.add_argument(
        "--probe-fixture", default=None,
        help="Parquet of PROBE_SCHEMA rows to use instead of running ffprobe",
    )
    parser.add_argument(
        "--format", default="tsv", choices=("tsv", "parquet"), dest="sink_format",
        help="Database sink format (tsv = reference parity; parquet = native)",
    )
    parser.add_argument(
        "--ffprobe-bin", default="ffprobe", dest="ffprobe_bin",
        help="ffprobe executable to invoke (name on PATH or absolute path)",
    )
    parser.add_argument(
        "--no-audio", action="store_true", dest="no_audio",
        help=(
            "Omit audio columns from the db; the ffprobe call itself "
            "narrows to video streams (-select_streams v) — probe "
            "elision at the process boundary"
        ),
    )
    parser.add_argument("paths", nargs="+", help="Directories to scan (or TSV dbs with -m)")
    ns = parser.parse_args(argv)
    if ns.no_audio and ns.sink_format != "parquet":
        # the reference TSV db is a FIXED 18-column format (audio
        # columns included) — elision only narrows the native sink
        parser.error("--no-audio requires --format parquet "
                     "(the TSV db format is fixed by reference parity)")
    return ns


def _probe(
    spark: SparkSession,
    candidates: DataFrame,
    fixture: str | None,
    fields: tuple[str, ...] | None = None,
    ffprobe_bin: str = "ffprobe",
) -> DataFrame:
    import shutil

    from .operators.probe import probe_from_fixture, probe_videos

    if fixture:
        probed = probe_from_fixture(candidates, spark.read.parquet(fixture))
        if fields is not None:  # fixture rows carry every column; narrow
            probed = probed.select("path", *fields, "error")
        return probed
    if shutil.which(ffprobe_bin) is None:
        print(
            f"warning: {ffprobe_bin} not found — all rows will dead-letter "
            "(pass --probe-fixture for a fixture-driven run)",
            file=sys.stderr,
        )
    return probe_videos(candidates, fields=fields, ffprobe_bin=ffprobe_bin)


def _build_records(
    spark: SparkSession,
    listing: DataFrame,
    candidates: DataFrame,
    fixture: str | None,
    no_audio: bool = False,
    ffprobe_bin: str = "ffprobe",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """probe ``candidates`` → sidecar join → (records, dead_letter,
    probed).

    ``candidates`` is what reaches ffprobe: the filtered listing, or in
    update mode only its rows missing from the db.  Sidecars still come
    from the full ``listing``.  ``probed`` is cached; the caller
    materializes it once, takes every read it needs from it (the run
    summary, video_metadata_db.py:1293-1315, the sink, the variant
    report) and unpersists it.

    ``no_audio`` drops the audio columns from the sink schema and
    propagates the narrowed field set down to the ffprobe invocation
    (probe elision — ``probe_fields_for``): the audio dissection the
    reference always pays is skipped at the process boundary.
    """
    from .operators.pipeline import build_metadata_records
    from .operators.probe import probe_fields_for
    from .schemas import METADATA_SCHEMA

    fields = None
    if no_audio:
        sink_cols = [
            f.name
            for f in METADATA_SCHEMA.fields
            if f.name not in ("audio_codec", "audio_channels")
        ]
        fields = probe_fields_for(sink_cols)

    probed = _probe(spark, candidates, fixture, fields, ffprobe_bin).cache()
    # the rows to assemble are the cached probed paths; re-deriving them
    # from ``candidates`` would re-run the update's db read on every action
    probed_listing = listing.join(probed.select("path"), "path", "left_semi")
    sidecars = listing.filter(F.col("name").rlike(r"\.srt$")).select("path", "size_bytes")
    records, dead = build_metadata_records(probed_listing, probed, sidecars, assume_pruned=True)
    return records, dead, probed


def _volume_label(roots: list[str]) -> str:
    """Unix volume label: mountpoint of the first root (parity with
    ``get_volume_label``, :169-187, psutil branch)."""
    try:
        import psutil  # noqa: F401 — optional, like the reference's lazy import

        return psutil.disk_partitions()[0].mountpoint
    except Exception:
        return os.path.sep


def _db_path(out_dir: str, fmt: str) -> str:
    name = "metadata_db.parquet" if fmt == "parquet" else "metadata_db.tsv"
    return os.path.join(out_dir, name)


def _write(records: DataFrame, out_dir: str, fmt: str, mode: str) -> str:
    from .sources.tsv import write_metadata_tsv

    path = _db_path(out_dir, fmt)
    if fmt == "parquet":
        records.write.mode(mode).parquet(path)
    else:
        write_metadata_tsv(records, path, header=True, mode=mode)
    return path


def _db_keys(spark: SparkSession, out_dir: str, fmt: str) -> DataFrame | None:
    """The existing db's ``path`` keys, or None when there is no db yet
    (update then degenerates to build, :1254-1283).

    Only a missing db path falls back; a db that exists but cannot be
    read raises, so a corrupt db never turns into a full re-append.
    """
    from pyspark.errors import AnalysisException

    from .sources.tsv import from_boundary, read_metadata_tsv

    path = _db_path(out_dir, fmt)
    try:
        if fmt == "parquet":
            db = spark.read.parquet(path)
        else:
            db = from_boundary(read_metadata_tsv(spark, path, header=True))
    except AnalysisException as e:
        if e.getCondition() == "PATH_NOT_FOUND":
            return None
        raise
    return db.select("path")


def _report(
    n_total: int, n_fail: int, dead: DataFrame, records: DataFrame, verbose: bool
) -> list[str]:
    """The run summary as lines; reads ``dead``/``records``, so call it
    before any append to the db."""
    lines = [f"files probed: {n_total}, ok: {n_total - n_fail}, failed: {n_fail}"]
    if n_fail:
        lines.append("failures:")
        for r in dead.select("path", "error").limit(20).collect():
            lines.append(f"  {r['path']}: {r['error']}")
    if verbose:
        from .operators.parity import variant_report

        lines.append("variant report (titles with >1 file):")
        # cap the driver-side collect like the failure list above: console
        # output is for humans, the full report belongs in the db files
        cap = 200
        rows = variant_report(records, detail_cols=("width", "height", "path")).limit(cap + 1).collect()
        for r in rows[:cap]:
            lines.append(f"  {r['title']}: {r['n_variants']} variants")
            for v in r["variants"]:
                lines.append(f"    {v['width']}x{v['height']}  {v['path']}")
        if len(rows) > cap:
            lines.append(f"  … and more (showing first {cap} titles)")
    return lines


def main(argv: list[str] | None = None) -> int:
    args = _parse_args(argv if argv is not None else sys.argv[1:])
    from .session import get_spark

    spark = get_spark("vmdb-cli")

    if args.merge_mode:
        # merge mode (:1361-1456): union-all TSV dbs → whole-line sort → header
        from .operators.parity import merge_metadata_dbs
        from .sources.tsv import boundary_sorted, read_metadata_tsv, tsv_writer

        dbs = [read_metadata_tsv(spark, p, header=True) for p in args.paths]
        merged = boundary_sorted(merge_metadata_dbs(dbs, sort_cols=[]))
        out = os.path.join(args.output, "metadata_db_merged.tsv")
        tsv_writer(merged, header=True, mode="overwrite").csv(out)
        print(f"merged {len(dbs)} dbs -> {out}")
        return 0

    if args.nomedia:
        from .sources.sideeffects import create_nomedia_markers, filtered_dirs

        created = create_nomedia_markers(filtered_dirs(spark, args.paths))
        print(f".nomedia markers: {created.filter(F.col('status') == 'created').count()} created")

    from .operators.parity import update_new_files
    from .operators.pipeline import filter_candidates
    from .sources.listing import list_files

    listing = list_files(spark, args.paths, volume_label=_volume_label(args.paths)).cache()
    probed = None
    try:
        candidates = filter_candidates(listing, assume_pruned=True)
        if args.percentage:
            # two-pass headcount (:1545-1568) — one count over the run's own listing
            print(f"files to probe: {candidates.count()}")

        if args.update_mode:
            # update mode (:579-582, :1529-1532): anti-join the listing against
            # the existing db's paths BEFORE probing — only new files, and
            # earlier dead letters (which never enter the db), reach ffprobe
            existing = _db_keys(spark, args.output, args.sink_format)
            if existing is not None:
                candidates = update_new_files(candidates, existing, key="path")

        records, dead, probed = _build_records(
            spark,
            listing,
            candidates,
            args.probe_fixture,
            no_audio=args.no_audio,
            ffprobe_bin=args.ffprobe_bin,
        )
        # the one job that runs ffprobe: it fills the cache and counts it
        n_total, n_fail = probed.agg(F.count(F.lit(1)), F.count("error")).first()
        # every read precedes the write: an append to the db path drops
        # cached plans that read it, and a recompute would re-probe
        report = _report(n_total, n_fail, dead, records, args.verbose)
        if args.update_mode:
            n_new = n_total - n_fail
            if n_new:
                _write(records, args.output, args.sink_format, mode="append")
            print(f"update: appended {n_new} new rows")
            print("\n".join(report))
        else:
            path = _write(records, args.output, args.sink_format, mode="overwrite")
            print("\n".join(report))
            print(f"db written: {path}")
    finally:
        listing.unpersist()
        if probed is not None:
            probed.unpersist()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
