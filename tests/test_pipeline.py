"""End-to-end parity pipeline over the deterministic fixtures:
listing → filter → (fixture) probe → sidecar join → typed records →
TSV boundary → sorted write → read-back → decode. Plus the merge /
update properties from SURVEY.md §5.4.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from video_metadata_db_spark.__main__ import main
from video_metadata_db_spark.functions.scalar import TITLE_NOT_SET, in_filtered_directory
from video_metadata_db_spark.operators.parity import merge_metadata_dbs, update_new_files, variant_report
from video_metadata_db_spark.operators.pipeline import build_metadata_records, filter_candidates
from video_metadata_db_spark.operators.probe import probe_from_fixture
from video_metadata_db_spark.schemas import TSV_HEADER
from video_metadata_db_spark.sources import fixtures
from video_metadata_db_spark.sources.tsv import (
    boundary_sorted,
    from_boundary,
    read_metadata_tsv,
    to_boundary,
    write_metadata_tsv,
    write_metadata_tsv_per_volume,
)


@pytest.fixture(scope="module")
def parts(spark):
    listing = fixtures.file_listing(spark, 400).cache()
    probes = fixtures.probe_results(spark, listing).cache()
    sidecars = fixtures.sidecar_files(spark, listing).cache()
    return listing, probes, sidecars


@pytest.fixture(scope="module")
def built(spark, parts):
    listing, probes, sidecars = parts
    probed = probe_from_fixture(filter_candidates(listing), probes)
    records, dead = build_metadata_records(listing, probed, sidecars)
    return records.cache(), dead.cache()


def test_filtering(spark, parts):
    listing, _, _ = parts
    kept = filter_candidates(listing)
    assert 0 < kept.count() < listing.count()
    assert kept.filter(in_filtered_directory("path")).count() == 0
    assert kept.filter(~F.lower("ext").isin("mkv", "mp4", "avi", "webm")).count() == 0


def test_dead_letter_channel(built):
    records, dead = built
    assert dead.count() > 0  # ~5% fixture failure rate
    assert records.join(dead, "path", "inner").count() == 0  # disjoint split


def test_boundary_encoding(spark, built):
    records, _ = built
    b = to_boundary(records)
    assert list(b.columns) == list(TSV_HEADER)
    rows = b.collect()
    assert rows
    for r in rows:
        assert len(r["Width"]) == 4  # "{:>4}" / "0000"
        assert r["AV1/HEVC Compression Candidate"] in ("Y", "N")
        assert r["Title"] is not None  # sentinel applied
        assert r["Ext. English Subtitle Availability"] in ("Y", "N")
    missing = [r for r in rows if r["Width"] == "0000"]
    assert missing, "fixture must include missing-dimension rows"
    na = [r for r in rows if r["Duration (in s)"] == "N/A"]
    assert na, "fixture must include N/A durations"
    no_sub = [r for r in rows if r["Ext. English Subtitle Size"] == " "]
    assert no_sub, "missing subtitle size must encode as single space"


def test_tsv_roundtrip(spark, built, tmp_path):
    records, _ = built
    out = str(tmp_path / "db.tsv")
    write_metadata_tsv(records, out, header=True)
    back = read_metadata_tsv(spark, out, header=True)
    assert back.count() == records.count()
    decoded = from_boundary(back)
    # typed columns survive the round trip (duration excluded: lossy hms)
    orig = records.select("path", "width", "raw_size", "sub_en").orderBy("path").collect()
    got = decoded.select("path", "width", "raw_size", "sub_en").orderBy("path").collect()
    assert orig == got


def test_sort_is_whole_line_desc(spark, built):
    records, _ = built
    b = boundary_sorted(to_boundary(records))
    lines = ["\t".join("" if v is None else v for v in r) for r in b.collect()]
    assert lines == sorted(lines, reverse=True)


def test_sort_key_is_the_written_line_with_null_cells(spark, tmp_path):
    """NULL cells are written as empty cells, so they must sort as empty
    cells: ``concat_ws`` alone skips them and would order
    ``1920<TAB><TAB>x`` (key ``1920<TAB>x``) ahead of ``1920<TAB>a<TAB>y``.
    Empty cells come from audio-less videos and from TSV cells that
    ``-m`` reads back as NULL."""
    b = spark.createDataFrame([("1920", None, "x"), ("1920", "a", "y")], "w string, a string, b string")
    lines = ["\t".join("" if v is None else v for v in r) for r in boundary_sorted(b).collect()]
    assert lines == ["1920\ta\ty", "1920\t\tx"]

    base = ["1920", "1080", "1:30:00", "1.0GiB", "1073741824", "H.264", "Y", "2", "Matroska"]
    tail = ["T", "N", " ", "N", " ", "/", "/m/t.mkv"]
    # audio channels + codec: an empty channel cell must sort below "2"
    db_lines = {
        "a.tsv": ["\t".join([*base, "", "Zz", *tail]), "\t".join([*base, "", "", *tail])],
        "b.tsv": ["\t".join([*base, "2", "AAC", *tail])],
    }
    for name, rows in db_lines.items():
        (tmp_path / name).write_text("\n".join(["\t".join(TSV_HEADER), *rows]) + "\n")
    out = tmp_path / "m"
    assert main(["-m", *(str(tmp_path / n) for n in db_lines), "--output", str(out)]) == 0
    merged = []
    for part in sorted((out / "metadata_db_merged.tsv").glob("part-*")):
        merged.extend(part.read_text().splitlines()[1:])  # header per part file
    want = sorted((ln for rows in db_lines.values() for ln in rows), reverse=True)
    assert merged == want


def test_merge_property(spark, built):
    """merge(A ∪ B) row-multiset == A ∪ B (SURVEY §5.4)."""
    records, _ = built
    a = records.filter(F.col("raw_size") % 2 == 0)
    b = records.filter(F.col("raw_size") % 2 == 1)
    merged = merge_metadata_dbs([a, b], [F.col("path")])
    assert merged.count() == records.count()
    assert merged.select("path").subtract(records.select("path")).count() == 0


def test_update_idempotent(spark, built):
    """Running update twice adds nothing (SURVEY §5.4)."""
    records, _ = built
    first_half = records.limit(records.count() // 2)
    new = update_new_files(records, first_half, key="path")
    assert new.count() == records.count() - first_half.count()
    merged = first_half.unionByName(new)
    again = update_new_files(records, merged, key="path")
    assert again.count() == 0


def test_per_volume_write(spark, built, tmp_path):
    """One db per volume label (reference :508-514): partition dirs
    exist per volume, rows keep the inline Volume Label column."""
    import os

    records, _ = built
    out = str(tmp_path / "per_volume")
    write_metadata_tsv_per_volume(records, out)
    parts_dirs = sorted(d for d in os.listdir(out) if d.startswith("_volume="))
    volumes = sorted(
        r["volume_label"] for r in records.select("volume_label").distinct().collect()
    )
    assert parts_dirs == [f"_volume={v}" for v in volumes]
    back = read_metadata_tsv(spark, [f"{out}/{d}" for d in parts_dirs])
    assert back.count() == records.count()
    assert back.filter(F.col("`Volume Label`").isNull()).count() == 0


def test_nomedia_markers(spark, tmp_path):
    """.nomedia side-effect sink (reference :947-971): markers created
    in filtered dirs, idempotent on rerun, results reported as rows."""
    import os

    from video_metadata_db_spark.sources.sideeffects import (
        create_nomedia_markers,
        filtered_dirs,
    )

    root = tmp_path / "media"
    for d in ("Movies/Extras", "Movies/Collection 1", "Movies/@eaDir"):
        (root / d).mkdir(parents=True)
    dirs = filtered_dirs(spark, [str(root)])
    got = {r["dir_path"] for r in dirs.collect()}
    assert got == {str(root / "Movies/Extras"), str(root / "Movies/@eaDir")}

    first = {r["dir_path"]: r["status"] for r in create_nomedia_markers(dirs).collect()}
    assert set(first.values()) == {"created"}
    assert all(os.path.exists(os.path.join(d, ".nomedia")) for d in got)
    again = {r["status"] for r in create_nomedia_markers(dirs).collect()}
    assert again == {"existed"}  # idempotent


def test_variant_report_on_fixtures(spark, parts):
    listing, _, _ = parts
    rep = variant_report(filter_candidates(listing), "name", detail_cols=("path", "size_bytes"))
    rows = rep.collect()
    assert rows  # fixture titles repeat by construction
    for r in rows:
        assert r["n_variants"] > 1
        assert len(r["variants"]) == r["n_variants"]


def test_distributed_listing_matches_driver_walk(spark, tmp_path):
    """list_files_distributed == list_files row-for-row, at multiple
    fan-out depths, with pruned dirs and loose top-level files."""
    import os

    from video_metadata_db_spark.sources.listing import (
        list_files,
        list_files_distributed,
    )

    root = tmp_path / "tree"
    (root / "a" / "deep").mkdir(parents=True)
    (root / "b").mkdir()
    (root / "Extras").mkdir()  # pruned
    (root / "loose.mkv").write_bytes(b"1")        # loose file at depth 0
    (root / "a" / "one.mkv").write_bytes(b"22")
    (root / "a" / "deep" / "two.avi").write_bytes(b"333")
    (root / "b" / "three.mp4").write_bytes(b"4444")
    (root / "Extras" / "cut.mkv").write_bytes(b"x")

    def rows(df):
        return sorted(
            (r["path"], r["parent_dir"], r["name"], r["ext"], r["size_bytes"])
            for r in df.collect()
        )

    base = rows(list_files(spark, [str(root)]))
    assert len(base) == 4  # Extras pruned
    for depth in (1, 2, 3):
        got = rows(list_files_distributed(spark, [str(root)], fanout_depth=depth))
        assert got == base, f"fanout_depth={depth}"


def test_probe_videos_dead_letters_without_ffprobe(spark, tmp_path):
    """The REAL mapInPandas probe path: with no ffprobe on PATH every
    row returns an error struct — no task failure, schema intact."""
    from video_metadata_db_spark.operators.probe import (
        ffprobe_available,
        probe_videos,
    )
    from video_metadata_db_spark.schemas import PROBE_SCHEMA

    if ffprobe_available():  # covered by real-media tests elsewhere
        import pytest

        pytest.skip("ffprobe present; this test pins the absent-binary path")

    f = tmp_path / "x.mkv"
    f.write_bytes(b"not a video")
    listing = spark.createDataFrame([(str(f),)], "path string")
    out = probe_videos(listing, partitions=2)
    assert out.schema == PROBE_SCHEMA
    rows = out.collect()
    assert len(rows) == 1
    assert rows[0]["error"] and "FileNotFoundError" in rows[0]["error"]
    assert rows[0]["width"] is None


def test_tsv_read_tolerates_malformed_rows(spark, tmp_path):
    """A corrupted db line (wrong arity, junk types) must not kill the
    read: the schema'd PERMISSIVE read yields NULL-padded rows and
    from_boundary stays total (NULLs, not exceptions)."""
    from video_metadata_db_spark.schemas import TSV_HEADER
    from video_metadata_db_spark.sources.tsv import from_boundary, read_metadata_tsv

    p = tmp_path / "db.tsv"
    good = "\t".join(["1920", "1080", "1m:2s", "1.0KiB", "1024", "H.264 / AVC", "Y",
                      "2", "Matroska / WebM", "2", "AAC", "T", "Y", "10", "N", " ",
                      "/vol", "/media/ok.mkv"])
    assert len(good.split("\t")) == len(TSV_HEADER)
    p.write_text(good + "\n" + "garbage line with\tonly three\tfields\n", encoding="utf-8")

    back = read_metadata_tsv(spark, str(p))
    assert back.count() == 2  # both rows survive the read
    decoded = from_boundary(back).collect()
    ok = [r for r in decoded if r["path"] == "/media/ok.mkv"]
    assert len(ok) == 1 and ok[0]["width"] == 1920 and ok[0]["raw_size"] == 1024
    bad = [r for r in decoded if r["path"] is None]
    assert len(bad) == 1  # NULL-padded, not raised


def test_merge_with_schema_evolution(spark, built):
    """Merging an old-schema db (missing a newer column) NULL-fills it
    under allow_missing_columns; strict mode still raises."""
    import pytest

    records, _ = built
    old_db = records.drop("sub_en_hi_size")  # "older engine version"
    with pytest.raises(Exception):
        merge_metadata_dbs([records, old_db], sort_cols=[])
    merged = merge_metadata_dbs(
        [records, old_db], sort_cols=[], allow_missing_columns=True
    )
    assert merged.count() == 2 * records.count()
    assert merged.filter(F.col("sub_en_hi_size").isNull()).count() >= records.count()


def test_ffprobe_invocation_narrows_with_fields():
    """Probe elision (SURVEY §4 deferred rule, done as invocation
    narrowing): audio fields unrequested -> -select_streams v; no
    stream fields -> no -show_streams at all; full probe unchanged."""
    from video_metadata_db_spark.operators.probe import ffprobe_args

    full = ffprobe_args("/x.mkv")
    assert "-show_streams" in full and "-select_streams" not in full

    video_only = ffprobe_args("/x.mkv", frozenset({"width", "height", "duration_s"}))
    i = video_only.index("-select_streams")
    assert video_only[i + 1] == "v"

    fmt_only = ffprobe_args("/x.mkv", frozenset({"duration_s", "container", "title"}))
    assert "-show_streams" not in fmt_only and "-show_format" in fmt_only

    audio_only = ffprobe_args("/x.mkv", frozenset({"audio_codec"}))
    j = audio_only.index("-select_streams")
    assert audio_only[j + 1] == "a"


def test_probe_videos_fields_narrow_schema(spark):
    """fields= narrows the output schema to path + fields + error, and
    rejects unknown names."""
    import pytest as _pytest

    from video_metadata_db_spark.operators.probe import probe_videos

    listing = spark.createDataFrame([("/a.mkv",), ("/b.mkv",)], "path string")
    df = probe_videos(listing, fields=("width", "height"))
    assert df.columns == ["path", "width", "height", "error"]
    rows = df.collect()  # no ffprobe in container -> every row dead-letters
    assert len(rows) == 2 and all(r["error"] for r in rows)

    with _pytest.raises(KeyError):
        probe_videos(listing, fields=("nope",))


def test_records_build_from_any_narrowed_probe(spark, parts):
    """Every PROBE_SCHEMA metadata field is elidable (ADVICE r7): a
    probe narrowed away from e.g. title/duration_s — legitimate output
    of probe_fields_for for a sink without those columns — must still
    build records, not raise 'missing non-elidable columns'."""
    listing, probes, sidecars = parts
    probed = probe_from_fixture(filter_candidates(listing), probes)
    for dropped in (("title", "duration_s"), ("n_streams", "container")):
        narrowed = probed.drop(*dropped)
        records, dead = build_metadata_records(listing, narrowed, sidecars)
        assert records.count() > 0
        for col in dropped:
            assert col not in records.columns


def test_corrupt_json_ingest_dead_letters(spark, tmp_path):
    """Malformed ingest rows must become dead-letter rows, not job
    failures (§2.9 at the SOURCE boundary): PERMISSIVE json reading
    routes unparseable lines to columnNameOfCorruptRecord, the same
    split-on-error contract the probe stage uses."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    src = tmp_path / "ingest.jsonl"
    src.write_text(
        '{"path": "/v/a.mkv", "bytes": 10}\n'
        "{not json at all\n"
        '{"path": "/v/b.mkv", "bytes": 20}\n'
        '{"path": "/v/c.mkv", "bytes": "NaNope"}\n'
    )
    schema = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("bytes", T.LongType()),
            T.StructField("_bad", T.StringType()),
        ]
    )
    # cache the parsed frame: Spark disallows queries that reference
    # ONLY the corrupt-record column of a raw scan (SPARK-21610) — the
    # documented pattern is parse-once, cache, then split
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .json(str(src))
        .cache()
    )
    try:
        good = df.filter(F.col("_bad").isNull()).select("path", "bytes")
        dead = df.filter(F.col("_bad").isNotNull()).select("_bad")
        assert {(r["path"], r["bytes"]) for r in good.collect()} == {
            ("/v/a.mkv", 10),
            ("/v/b.mkv", 20),
        }
        bad_rows = [r["_bad"] for r in dead.collect()]
        assert len(bad_rows) == 2 and any("not json" in b for b in bad_rows)
    finally:
        df.unpersist()


def test_probe_fields_for_narrows_to_video_streams():
    """Sink-schema-driven elision (VERDICT r6 item 5): a sink without
    audio columns yields a field set that makes ffprobe_args choose
    `-select_streams v`; the full sink keeps the full probe."""
    from video_metadata_db_spark.operators.probe import (
        ffprobe_args,
        probe_fields_for,
    )
    from video_metadata_db_spark.schemas import METADATA_SCHEMA

    full_cols = [f.name for f in METADATA_SCHEMA.fields]
    assert "audio_codec" in probe_fields_for(full_cols)
    args_full = ffprobe_args("/x.mkv", frozenset(probe_fields_for(full_cols)))
    assert "-select_streams" not in args_full

    no_audio = [c for c in full_cols if c not in ("audio_codec", "audio_channels")]
    fields = probe_fields_for(no_audio)
    assert "audio_codec" not in fields and "video_codec" in fields
    args = ffprobe_args("/x.mkv", frozenset(fields))
    i = args.index("-select_streams")
    assert args[i + 1] == "v"
