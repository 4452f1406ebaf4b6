"""Tests of the benchmark's own parts: input generator, stub ffprobe and
its log parser, and the output checkers.  No Spark needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
from pathlib import Path

import checks
import inputs
import meters


def tree_files(root: Path) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _, files in os.walk(root) for f in files
    )


def test_same_seed_same_tree(tmp_path):
    a = inputs.make_tree(tmp_path / "a", seed=7, n_titles=40)
    b = inputs.make_tree(tmp_path / "b", seed=7, n_titles=40)
    assert tree_files(tmp_path / "a") == tree_files(tmp_path / "b")
    rel = lambda m, r: [str(Path(p).relative_to(r)) for p in m.readable + m.dead]  # noqa: E731
    assert rel(a, tmp_path / "a") == rel(b, tmp_path / "b")
    assert a.variants == b.variants


def test_other_seed_other_names_same_counts(tmp_path):
    a = inputs.make_tree(tmp_path / "a", seed=1, n_titles=200)
    b = inputs.make_tree(tmp_path / "b", seed=2, n_titles=200)
    assert tree_files(tmp_path / "a") != tree_files(tmp_path / "b")
    for man in (a, b):
        assert len(man.readable) + len(man.dead) == 500
        assert len(man.dead) == 5
        assert len(man.with_sub_en) == 99
        assert len(man.pruned) == 10 and len(man.other) == 20


def test_new_batch_adds_titles(tmp_path):
    old = inputs.make_tree(tmp_path, seed=3, n_titles=20)
    new = inputs.make_tree(tmp_path, seed=3, n_titles=2, first_title=20)
    assert not set(old.readable) & set(new.readable)
    assert set(new.variants) <= {"Title 00020", "Title 00021"}
    n_old = len(old.readable)
    both = old.merged(new)
    assert len(both.readable) == n_old + len(new.readable) and len(old.readable) == n_old
    assert both.variants == old.variants | new.variants


def test_parse_stub_log_counts():
    lines = [
        "10.0\t10.5\t0\t/a.mkv\n",
        "10.2\t10.4\t1\t/b.mkv\n",
        "10.5\t11.0\t0\t/a.mkv\n",  # starts when the first ends: no overlap
        "\n",
    ]
    pc = inputs.summarise_calls(inputs.parse_stub_log(lines))
    assert (pc.calls, pc.failed, pc.paths, pc.max_inflight) == (3, 1, 2, 2)
    assert abs(pc.busy_s - 1.2) < 1e-9
    assert abs(pc.span_s - 1.0) < 1e-9
    assert inputs.summarise_calls([]) == inputs.ProbeCalls()


def test_stub_logs_every_call(tmp_path):
    d = tmp_path / "a b'c"  # a checkout path may hold spaces and quotes
    stub, log = d / "ffprobe", d / "calls.log"
    inputs.write_stub(stub, log, sleep_s=0)
    ok = subprocess.run([str(stub), "-v", "error", "-i", "/m/[2001] X [4K].mkv"],
                        capture_output=True, text=True)
    bad = subprocess.run([str(stub), "-i", f"/m/Y {inputs.UNREADABLE}.mkv"],
                         capture_output=True, text=True)
    assert ok.returncode == 0 and bad.returncode == 1
    video = json.loads(ok.stdout)["streams"][0]
    assert (video["width"], video["height"]) == (3840, 2160)
    tail = inputs.StubLog(log)
    pc = inputs.summarise_calls(tail.take())
    assert (pc.calls, pc.failed, pc.paths) == (2, 1, 2)
    assert tail.take() == []


def test_tracer_self_time_and_stub_attribution(tmp_path):
    log = tmp_path / "calls.log"
    tracer = meters.Tracer(stub_log=inputs.StubLog(log))
    with tracer.span("outer", op="x") as outer:
        log.write_text("1.0\t2.0\t0\t/a\n")
        with tracer.span("inner") as inner:
            with log.open("a") as fh:
                fh.write("3.0\t4.0\t1\t/b\n")
    assert [c[3] for c in outer.calls] == ["/a"]
    assert [c[3] for c in inner.calls] == ["/b"]
    assert abs(tracer.self_s(outer) - (outer.dur - inner.dur)) < 1e-9
    assert tracer.subtree(outer) == [outer, inner]
    assert tracer.dump()[1]["parent"] == 0


def _write_db(d: Path, paths: list[str], subs: set[str] = frozenset()) -> None:
    d.mkdir(parents=True)
    lines = ["\t".join(inputs.TSV_HEADER)]
    for p in paths:
        row = ["1920"] * 18
        row[checks._SUB_EN_COL] = "Y" if p in subs else "N"
        row[checks._PATH_COL] = p
        lines.append("\t".join(row))
    (d / "part-00000.csv").write_text("\n".join(lines) + "\n")


def test_db_check_accepts_exact_rows(tmp_path):
    man = inputs.Manifest(readable=["/a", "/b"], with_sub_en=["/b"])
    _write_db(tmp_path / "db", ["/a", "/b"], {"/b"})
    rows, _ = checks.read_db(tmp_path / "db")
    assert checks.check_db_rows(rows, man) == []


def test_db_check_rejects_duplicate_row(tmp_path):
    man = inputs.Manifest(readable=["/a", "/b"])
    _write_db(tmp_path / "db", ["/a", "/b", "/b"])
    rows, _ = checks.read_db(tmp_path / "db")
    assert any("duplicate" in p for p in checks.check_db_rows(rows, man))


def test_db_check_rejects_missing_row(tmp_path):
    man = inputs.Manifest(readable=["/a", "/b"])
    _write_db(tmp_path / "db", ["/a"])
    rows, _ = checks.read_db(tmp_path / "db")
    assert any("missing" in p for p in checks.check_db_rows(rows, man))


def test_db_check_rejects_wrong_subtitle_flag(tmp_path):
    man = inputs.Manifest(readable=["/a"], with_sub_en=["/a"])
    _write_db(tmp_path / "db", ["/a"])
    rows, _ = checks.read_db(tmp_path / "db")
    assert checks.check_db_rows(rows, man)


def test_build_check_reads_dead_letters_and_variants(tmp_path):
    man = inputs.Manifest(readable=["/m/a", "/m/b"], dead=["/m/c"], variants={"T": 2})
    _write_db(tmp_path / "metadata_db.tsv", ["/m/a", "/m/b"])
    out = ("files probed: 3, ok: 2, failed: 1\nfailures:\n"
           "  /m/c: stub ffprobe: cannot read /m/c\n\n"
           "variant report (titles with >1 file):\n  T: 2 variants\n"
           "    1920x1080  /m/a\n    1920x1080  /m/b\ndb written: x\n")
    assert checks.check_build(tmp_path, out, man) == []
    assert checks.check_build(tmp_path, out.replace("failed: 1", "failed: 0"), man)
    assert checks.check_build(tmp_path, out.replace("  /m/c:", "  /m/d:"), man)
    assert checks.check_build(tmp_path, out.replace("T: 2", "T: 3"), man)


def test_merge_check_rejects_order_and_count(tmp_path):
    _write_db(tmp_path / "sorted", ["/c", "/b", "/a"])
    assert checks.check_merge(tmp_path / "sorted", 3) == []
    assert checks.check_merge(tmp_path / "sorted", 4)
    _write_db(tmp_path / "unsorted", ["/a", "/c", "/b"])
    assert checks.check_merge(tmp_path / "unsorted", 3)


def test_query_digest_ignores_row_order():
    a = checks.rows_digest([(1, "x"), (2, "y")], ["n", "s"])
    b = checks.rows_digest([(2, "y"), (1, "x")], ["n", "s"])
    c = checks.rows_digest([(1, "x"), (1, "x")], ["n", "s"])
    assert a == b and a != c


def test_benchmark_json_names_what_run_reports():
    import run

    spec = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.LAYER_UNITS
    assert spec["paths"] == ["perfbench"]


def test_corpus_holds_every_table():
    import pyarrow.parquet as pq
    import run  # noqa: F401  (puts the repository on sys.path)
    import workloads
    from video_metadata_db_spark.sources.tables import TABLES

    assert sorted(p.stem for p in workloads.CORPUS.glob("*.parquet")) == sorted(TABLES)
    assert pq.read_metadata(workloads.CORPUS / "lineitem.parquet").num_rows == 600_000
