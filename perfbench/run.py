#!/usr/bin/env python3
"""The repository's benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  One client process drives the shipped
entry points on ``local[$(nproc)]`` as a closed loop: each operation
starts after the previous one returns.  Pipeline inputs are generated
from the seed under ``.perfbench/``; the queries read the committed test
corpus in ``corpus/``.  Every output is checked.  The last line of
stdout is the result record::

    {"correct": ..., "attempted": N, "failed": N, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
same passes with a span around every operation, then a stage-by-stage
pass over each layer's public functions, and reports per-layer metrics
(spans go to ``.perfbench/spans-<workload>.json``).  See README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shlex
import shutil
import signal
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

import meters  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _configure_env(work: Path) -> None:
    """Before the JVM starts: workers must import the package, and Spark,
    the JVM and Python keep their scratch files inside the checkout."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(meters.nproc()))
    for var, sub in (("SPARK_LOCAL_DIRS", "spark-local"), ("TMPDIR", "tmp")):
        (work / sub).mkdir(parents=True, exist_ok=True)
        os.environ[var] = str(work / sub)
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    # the short-lived JVM that spark-class runs to build the command line
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell"
    )


def _start_spark():
    """What a CLI user pays on every invocation: imports, SparkSession,
    first trivial job.  Returns (spark, seconds since process start)."""
    import video_metadata_db_spark.__main__  # noqa: F401
    from video_metadata_db_spark.session import get_spark

    spark = get_spark("vmdb-cli")
    spark.range(1).count()
    return spark, meters.process_age_s()


def _stop_spark(spark) -> None:
    """Stop Spark and wait until every process it started has exited:
    the JVM, its Python workers and any probe subprocess."""
    from pyspark import SparkContext

    started = meters.process_tree()[1:]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    alive = started
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [pid for pid in alive if os.path.exists(f"/proc/{pid}")]
    for pid in alive:  # orphans that outlived the JVM by 30 s
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, signal.SIGKILL)


class Runner:
    """Runs operations, times them and counts failures."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.rss = meters.PeakRss([os.getpid(), meters.jvm_pid()])
        self.attempted = 0
        self.problems: list[str] = []

    def run(self, op, pass_no: int) -> dict:
        """Run one operation; its output check is outside the timed region."""
        self.attempted += 1
        cpu0 = meters.tree_cpu_s()
        self.rss.reset()
        t0 = time.perf_counter()
        try:
            if self.tracer is None:
                out = op.run()
            else:
                with self.tracer.span(op.span, op=op.name, pass_no=pass_no):
                    out = op.run()
            err = None
        except Exception:
            out, err = None, traceback.format_exc(limit=3)
        wall = time.perf_counter() - t0
        rec = {"op": op.name, "wall_s": wall, "cpu_s": meters.tree_cpu_s() - cpu0,
               "rss_mb": self.rss.read_mb()}
        problems = [err] if err else op.check(out)
        if problems:
            self.problems.append(f"{op.name}: {problems}")
        rec["ok"] = not problems
        return rec

    def run_pass(self, ops, pass_no: int) -> dict:
        box = meters.BoxState()
        overhead0 = self.tracer.overhead_s if self.tracer else 0.0
        recs = [self.run(op, pass_no) for op in ops]
        return {
            "wall_s": sum(r["wall_s"] for r in recs),
            "cpu_s": sum(r["cpu_s"] for r in recs),
            "peak_rss_mb": max(r["rss_mb"] for r in recs),
            "ops": recs,
            "box": box.read(),
            "trace_overhead_s": (self.tracer.overhead_s - overhead0) if self.tracer else 0.0,
        }


def _median(xs):
    return statistics.median(xs) if xs else 0.0


#: End-to-end metrics (``--trace 0``) and their units.
E2E_UNITS = {"setup_s": "s", "wall_s": "s", "cpu_s": "s", "query_p50_s": "s"}


def end_to_end(passes: list[dict], setup_s: float) -> dict:
    """name → (value, unit, samples).  ``peak_rss_mb`` and ``query_p90_s``
    are printed with their sample counts but not part of the result
    record: peak RSS follows the JVM's GC-driven heap growth and varies
    too much between runs to gate on, and one run has too few
    operations for a p90 with ten samples beyond it."""
    lat = sorted(o["wall_s"] for p in passes for o in p["ops"])
    return {
        "setup_s": (setup_s, "s", 1),
        "wall_s": (_median([p["wall_s"] for p in passes]), "s", len(passes)),
        "cpu_s": (_median([p["cpu_s"] for p in passes]), "s", len(passes)),
        "query_p50_s": (_median(lat), "s", len(lat)),
        "peak_rss_mb": (_median([p["peak_rss_mb"] for p in passes]), "MB", len(passes)),
        "query_p90_s": (lat[max(math.ceil(0.9 * len(lat)) - 1, 0)], "s", len(lat)),
    }


_SPARK_KEYS = ("spark.jobs", "spark.stages", "spark.tasks", "exec.run_s", "exec.cpu_s",
               "shuffle.read_bytes", "shuffle.write_bytes", "spill.bytes")


def per_layer(tracer, wl, passes: list[dict]) -> dict:
    """Per-layer metrics: program counters per timed pass (median over
    passes), stage self times from the stage-by-stage pass."""
    from inputs import summarise_calls

    per_pass = []
    for i, p in enumerate(passes):
        tops = [s for s in tracer.spans if s.parent is None and s.counts.get("pass_no") == i]
        subtree = [s for t in tops for s in tracer.subtree(t)]
        pc = summarise_calls([c for s in subtree for c in s.calls])
        denom = wl.probe_denominator()
        m = {k: sum(s.counts.get(k, 0) for s in subtree) for k in _SPARK_KEYS}
        build = [s for s in subtree if s.name == "plans.build"]
        m.update({
            "probe.calls": pc.calls,
            "probe.calls_per_file": pc.calls / denom if denom else 0.0,
            "probe.busy_s": pc.busy_s,
            "probe.span_s": pc.span_s,
            "probe.max_inflight": pc.max_inflight,
            "probe.dead_letters": len({c[3] for s in subtree for c in s.calls if c[2] != 0}),
            "plans.build_s": sum(tracer.self_s(s) for s in build),
            "plans.build_jobs": sum(s.counts.get("spark.jobs", 0) for s in build),
            "catalyst.plan_ms": sum(getattr(wl, "plan_ms", {}).values()),
            "action.s": sum(tracer.self_s(s) for s in subtree if s.name == "action"),
            "cli.s": sum(s.dur for s in tops if s.name == "cli.main"),
            "trace.overhead_s": p["trace_overhead_s"],
        })
        per_pass.append(m)
    out = {k: _median([m[k] for m in per_pass]) for k in per_pass[0]}

    def total(name, key=None):
        spans = [s for s in tracer.spans if s.name == name]
        if key is None:
            return sum(tracer.self_s(s) for s in spans)
        return sum(s.counts.get(key, 0) for s in spans)

    writes = total("tsv.write", "rows")
    out.update({
        "listing.s": total("listing"), "listing.files": total("listing", "rows"),
        "probe.s": total("probe"),
        "derive.s": total("derive"), "derive.rows_out": total("derive", "rows"),
        "tsv.write_s": total("tsv.write"), "tsv.read_s": total("tsv.read"),
        "tsv.bytes_written": total("tsv.write", "bytes"),
        "tsv.part_files": total("tsv.write", "part_files"),
        "tsv.bytes_per_row": total("tsv.write", "bytes") / writes if writes else 0.0,
        "update.s": total("update"), "update.rows_new": total("update", "rows"),
        "merge.s": total("merge"), "merge.rows": total("merge", "rows"),
        "variant.s": total("variant"),
        "stages.s": sum(s.dur for s in tracer.spans if s.name == "stages"),
    })
    return out


#: Per-layer metrics (``--trace 1``) and their units.
LAYER_UNITS = {
    "listing.s": "s", "listing.files": "count",
    "probe.calls": "count", "probe.calls_per_file": "ratio", "probe.busy_s": "s",
    "probe.span_s": "s", "probe.max_inflight": "count", "probe.dead_letters": "count",
    "probe.s": "s",
    "derive.s": "s", "derive.rows_out": "count",
    "tsv.write_s": "s", "tsv.read_s": "s", "tsv.bytes_written": "B",
    "tsv.part_files": "count", "tsv.bytes_per_row": "B",
    "update.s": "s", "update.rows_new": "count", "merge.s": "s", "merge.rows": "count",
    "variant.s": "s",
    "plans.build_s": "s", "plans.build_jobs": "count", "catalyst.plan_ms": "ms",
    "action.s": "s", "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "exec.run_s": "s", "exec.cpu_s": "s", "shuffle.read_bytes": "B",
    "shuffle.write_bytes": "B", "spill.bytes": "B",
    "cli.s": "s", "stages.s": "s", "trace.overhead_s": "s",
}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = ROOT / ".perfbench" / args.workload
    # A previous run's files are moved aside now and deleted once Spark
    # is up, so that deleting them is not part of setup_s.
    stale = work.with_name(f"{work.name}.stale-{os.getpid()}")
    if work.exists():
        work.rename(stale)
    work.mkdir(parents=True)
    _configure_env(work)

    # One set-up sample per run, this process's own: each extra
    # fresh-process sample would cost another full Spark start
    # (README.md, "Why these sizes").
    spark, setup_s = _start_spark()
    try:
        for old in work.parent.glob(f"{work.name}.stale-*"):
            shutil.rmtree(old, ignore_errors=True)
        wl = WORKLOADS[args.workload](work, args.seed, spark)
        tracer = None
        if args.trace:
            tracer = meters.Tracer(spark, getattr(wl, "log", None))
        runner = Runner(tracer)
        for op in wl.prepare(tracer):
            runner.run(op, pass_no=-1)
        passes = []
        deadline = time.perf_counter() + args.seconds
        while True:
            passes.append(runner.run_pass(wl.ops(), len(passes)))
            wl.reset()
            if time.perf_counter() >= deadline:
                break
        if tracer is not None:
            wl.stages(tracer)
    finally:
        _stop_spark(spark)

    failed = len(runner.problems)
    for p in runner.problems:
        print(f"FAILED {p}", file=sys.stderr)
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "attempted": runner.attempted, "failed": failed,
        "failed_frac": failed / runner.attempted,
        "setup_s": setup_s,
        "passes": [{k: v for k, v in p.items() if k != "ops"} | {
            "ops": {o["op"]: round(o["wall_s"], 4) for o in p["ops"]}} for p in passes],
        "contended_passes": sum(p["box"]["contended"] for p in passes),
    }
    if tracer is None:
        metrics = end_to_end(passes, setup_s)
        for name, (value, unit, n) in metrics.items():
            note = "" if name in E2E_UNITS else "  (reported only, not gated)"
            print(f"{name:>14} {value:12.4f} {unit:<5} n={n}{note}")
        out = {k: {"value": metrics[k][0], "unit": u} for k, u in E2E_UNITS.items()}
    else:
        layers = per_layer(tracer, wl, passes)
        (work.parent / f"spans-{args.workload}.json").write_text(
            json.dumps(tracer.dump(), indent=0))
        out = {k: {"value": layers[k], "unit": u} for k, u in LAYER_UNITS.items()}
        for name, m in out.items():
            print(f"{name:>22} {m['value']:14.4f} {m['unit']}")
    print(f"failed_frac {record['failed_frac']:.4f} ratio ({failed} of {runner.attempted})")
    print("record " + json.dumps(record))
    print(json.dumps({"correct": failed == 0, "attempted": runner.attempted,
                      "failed": failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
