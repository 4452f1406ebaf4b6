"""The workloads: set-up, the operations of one pass, and the traced
stage-by-stage pass that isolates each layer.

Every operation goes through a shipped entry point:
``video_metadata_db_spark.__main__.main(argv)`` for the pipeline and
``plans.QUERIES[name](spark, sf)`` for the query engine.  The traced
stage pass instead calls each layer's public functions in turn and
forces each stage's output inside its own span.
"""

from __future__ import annotations

import contextlib
import io
import shutil
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path

import checks
import inputs

#: Per-call sleep of the stub ffprobe, standing in for media I/O.
PROBE_SLEEP_S = 0.002
#: Titles in the media tree (half with two variants, half with three).
TREE_TITLES = 200
#: Rows in each of the two archived TSV dbs that merge mode reads.
ARCHIVE_ROWS = 50_000
#: The test corpus the registered queries read (TPC-H-ish tables plus
#: events, documents and embeddings; 600k lineitem rows), a copy of the
#: corpus the repository's own bench and oracle tests use at sf0.1.
CORPUS = Path(__file__).resolve().parent / "corpus" / "sf0.1"


@dataclass
class Op:
    """One timed operation and the untimed check of its output."""

    name: str
    run: Callable[[], object]
    check: Callable[[object], list[str]]
    #: name of the span that wraps the operation in a traced run
    span: str = "cli.main"


def _cli(argv: list[str]) -> str:
    """Run the CLI in-process; return its stdout (non-zero exit raises)."""
    from video_metadata_db_spark.__main__ import main

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(argv)
    if rc != 0:
        raise RuntimeError(f"CLI returned {rc}: {argv}")
    return buf.getvalue()


def _span(tracer, name: str):
    return tracer.span(name) if tracer is not None else contextlib.nullcontext()


def _dir_bytes(d: Path) -> tuple[int, int]:
    parts = list(d.glob("part-*"))
    return sum(p.stat().st_size for p in parts), len(parts)


class Pipeline:
    """Shared state of the two pipeline workloads."""

    def __init__(self, work: Path, seed: int, spark):
        self.work, self.seed, self.spark = work, seed, spark
        self.tree = work / "tree"
        self.out = work / "out"
        self.stub = work / "bin" / "ffprobe"
        self.log = inputs.StubLog(work / "ffprobe.log")
        inputs.write_stub(self.stub, self.log.path, PROBE_SLEEP_S)
        self.man = inputs.make_tree(self.tree, seed, TREE_TITLES)
        self.man.write(work / "manifest.json")

    def build_argv(self) -> list[str]:
        return [str(self.tree), "-v", "--output", str(self.out), "--ffprobe-bin", str(self.stub)]

    def reset(self) -> None:
        pass

    # -- traced stage pass: each layer's public functions, one span each
    def _stage_build(self, tracer):
        from pyspark.sql import functions as F

        from video_metadata_db_spark.operators.pipeline import (
            build_metadata_records,
            filter_candidates,
        )
        from video_metadata_db_spark.operators.probe import probe_videos
        from video_metadata_db_spark.sources.listing import list_files

        with tracer.span("listing") as sp:
            listing = list_files(self.spark, [str(self.tree)], volume_label="/").cache()
            sp.counts["rows"] = listing.count()
        with tracer.span("probe") as sp:
            cands = filter_candidates(listing, assume_pruned=True)
            probed = probe_videos(cands, ffprobe_bin=str(self.stub)).cache()
            sp.counts["rows"] = probed.count()
        with tracer.span("derive") as sp:
            sidecars = listing.filter(F.col("name").rlike(r"\.srt$")).select("path", "size_bytes")
            records, dead = build_metadata_records(listing, probed, sidecars, assume_pruned=True)
            records = records.cache()
            sp.counts["rows"] = records.count()
            sp.counts["dead"] = dead.count()
        return records

    def _stage_write(self, tracer, records, db: Path, mode: str) -> None:
        from video_metadata_db_spark.sources.tsv import write_metadata_tsv

        # count first: an append to ``db`` invalidates caches that read it
        rows = records.count()
        before = _dir_bytes(db) if db.exists() else (0, 0)
        with tracer.span("tsv.write") as sp:
            write_metadata_tsv(records, str(db), header=True, mode=mode)
        after = _dir_bytes(db)
        sp.counts.update(rows=rows, bytes=after[0] - before[0], part_files=after[1] - before[1])

    def _stage_variant(self, tracer, records) -> None:
        from video_metadata_db_spark.operators.parity import variant_report

        with tracer.span("variant") as sp:
            sp.counts["rows"] = len(
                variant_report(records, detail_cols=("width", "height", "path")).collect()
            )


class PipelineBuild(Pipeline):
    """A fresh ``-v`` build of the whole tree."""

    def prepare(self, tracer) -> list[Op]:
        return []

    def ops(self) -> list[Op]:
        return [Op("build", lambda: _cli(self.build_argv()),
                   lambda stdout: checks.check_build(self.out, stdout, self.man))]

    def probe_denominator(self) -> int:
        return len(self.man.readable) + len(self.man.dead)

    def stages(self, tracer) -> None:
        with tracer.span("stages"):
            records = self._stage_build(tracer)
            self._stage_write(tracer, records, self.work / "stage_db", "overwrite")
            self._stage_variant(tracer, records)


class PipelineMaintain(Pipeline):
    """``-u`` over a tree with 10% new files, then ``-m`` of the updated
    db with two archived dbs.  The db is restored between passes."""

    def prepare(self, tracer) -> list[Op]:
        self.old = self.man
        self.archives = [self.work / "archive" / f"archive{i}.tsv" for i in (1, 2)]
        for a in self.archives:
            inputs.write_archive_db(a, self.seed, ARCHIVE_ROWS)
        self.db = self.out / "metadata_db.tsv"
        self.pristine = self.work / "db_pristine"
        return [Op("setup_build", self._setup_build,
                   lambda stdout: checks.check_build(self.out, stdout, self.old))]

    def _setup_build(self) -> str:
        stdout = _cli(self.build_argv())
        shutil.copytree(self.db, self.pristine)
        self.new = inputs.make_tree(self.tree, self.seed, TREE_TITLES // 10, first_title=TREE_TITLES)
        self.man = self.old.merged(self.new)
        self.man.write(self.work / "manifest.json")
        return stdout

    def probe_denominator(self) -> int:
        return len(self.new.readable) + len(self.new.dead)

    def ops(self) -> list[Op]:
        n_db = len(self.man.readable)
        return [
            Op("update",
               lambda: _cli([str(self.tree), "-u", "--output", str(self.out),
                             "--ffprobe-bin", str(self.stub)]),
               lambda stdout: checks.check_update(self.out, stdout, self.man,
                                                  len(self.new.readable))),
            Op("merge",
               lambda: _cli(["-m", str(self.db), *map(str, self.archives),
                             "--output", str(self.out)]),
               lambda stdout: checks.check_merge(self.out / "metadata_db_merged.tsv",
                                                 n_db + 2 * ARCHIVE_ROWS)),
        ]

    def reset(self) -> None:
        shutil.rmtree(self.db)
        shutil.copytree(self.pristine, self.db)

    def stages(self, tracer) -> None:
        from video_metadata_db_spark.operators.parity import (
            merge_metadata_dbs,
            update_new_files,
        )
        from video_metadata_db_spark.sources.tsv import (
            boundary_sorted,
            from_boundary,
            read_metadata_tsv,
        )

        db = self.work / "stage_db"
        shutil.rmtree(db, ignore_errors=True)
        shutil.copytree(self.pristine, db)
        with tracer.span("stages"):
            records = self._stage_build(tracer)
            self._stage_variant(tracer, records)
            with tracer.span("tsv.read") as sp:
                existing = from_boundary(read_metadata_tsv(self.spark, str(db), header=True)).cache()
                sp.counts["rows"] = existing.count()
            with tracer.span("update") as sp:
                new = update_new_files(records, existing, key="path").cache()
                sp.counts["rows"] = new.count()
            self._stage_write(tracer, new, db, "append")
            with tracer.span("tsv.read") as sp:
                dbs = [read_metadata_tsv(self.spark, p, header=True).cache()
                       for p in [str(db), *map(str, self.archives)]]
                n_in = sp.counts["rows"] = sum(d.count() for d in dbs)
            with tracer.span("merge", rows=n_in):
                merged = boundary_sorted(merge_metadata_dbs(dbs, sort_cols=[]))
                (merged.write.mode("overwrite").option("sep", "\t").option("header", "true")
                 .option("emptyValue", "").option("nullValue", "")
                 .csv(str(self.work / "stage_merged.tsv")))


class QueriesCore16:
    """The frozen CORE16 registered queries over the test corpus.  The
    corpus is fixed, so the seed does not change this workload's inputs."""

    def __init__(self, work: Path, seed: int, spark):
        from bench import CORE16
        from tests.oracle_utils import duckdb_conn
        from video_metadata_db_spark.plans import QUERIES

        self.spark, self.names, self.queries = spark, CORE16, QUERIES
        self.sf = CORPUS
        self.duck = duckdb_conn(str(self.sf))
        self.tracer = None
        self.plan_ms: dict[str, float] = {}

    def prepare(self, tracer) -> list[Op]:
        self.tracer = tracer
        return []

    def reset(self) -> None:
        pass

    def probe_denominator(self) -> int:
        return 0

    def _run(self, name: str):
        tr = self.tracer
        with _span(tr, "plans.build"):
            df = self.queries[name](self.spark, str(self.sf))
        if tr is not None:
            with tr.span("catalyst"):
                qe = df._jdf.queryExecution()
                qe.executedPlan()
            with tr.bookkeeping():
                it = qe.tracker().phases().iterator()
                ms = 0.0
                while it.hasNext():
                    ms += it.next()._2().durationMs()
                self.plan_ms[name] = ms
        with _span(tr, "action"):
            rows = [tuple(r) for r in df.collect()]
        return rows, df.columns

    def ops(self) -> list[Op]:
        return [
            Op(f"query:{n}", (lambda n=n: self._run(n)),
               (lambda out, n=n: checks.check_query(n, out[0], out[1], self.duck)),
               span="query")
            for n in self.names
        ]

    def stages(self, tracer) -> None:
        pass


WORKLOADS = {
    "pipeline_build": PipelineBuild,
    "pipeline_maintain": PipelineMaintain,
    "queries_core16": QueriesCore16,
}
