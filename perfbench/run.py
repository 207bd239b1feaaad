"""Benchmark of the sinker's product path and its query library.

Run from the repository root:

    python3 perfbench/run.py --workload ingest_backlog --seed 1 --seconds 15 --trace 0

Workloads (see perfbench/README.md for why each exists):

- ``ingest_backlog``  closed drain of staged F5 access logs into NativeHttpSink
- ``ingest_trickle``  open-loop F5 generator into ManifestParquetSink
- ``query_library``   headline and dialect queries at sf0.01

The last line of stdout is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``; with ``--trace 0`` its metrics are the end-to-end
ones, with ``--trace 1`` the per-layer ones.  Lines before it print every
metric by name and unit.  Everything the run writes stays under
``.perfbench_work/`` in the current directory; the trace of a traced run
goes to ``.perfbench_work/trace-<workload>.json``.
"""

from __future__ import annotations

import time

T0 = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import ingest  # noqa: E402
import queries  # noqa: E402
from common import Context  # noqa: E402
from spans import HostState, Tracer, TreeRss, adopt_orphans, end_descendants  # noqa: E402

WORKLOADS = ("ingest_backlog", "ingest_trickle", "query_library")
CORES = 4  # local[4]: sized for a 4-core host
BASELINE_TARGET_ROWS_PER_S_PER_CORE = 6500  # BASELINE.md: 2x allowance on 12.9 K

END_TO_END = {
    "setup_s": "s", "throughput_per_s": "1/s", "latency_p50_s": "s", "latency_p90_s": "s",
}
SELF_LAYERS = ("streaming.pipeline", "streaming.sink", "operators.project",
               "operators.sharding", "chproto", "plans.queries", "functions.chdialect",
               "engine")
PER_LAYER = {
    "trigger.count": "count", "trigger.rows_p50": "rows",
    "trigger.latest_offset_ms": "ms", "trigger.get_batch_ms": "ms",
    "trigger.query_planning_ms": "ms", "trigger.add_batch_ms": "ms",
    "trigger.wal_commit_ms": "ms", "trigger.commit_offsets_ms": "ms",
    "trigger.execution_ms": "ms", "source.wait_ms": "ms", "pipeline.build_s": "s",
    "sink.call_ms": "ms", "sink.transform_noop_ms": "ms", "sink.write_ms": "ms",
    "sink.posts": "count", "sink.rows_per_post": "rows",
    "sink.native_bytes_per_row": "B", "sink.manifest_commits": "count",
    "sink.landed_bytes_per_row": "B", "project.rows_per_s": "rows/s",
    "shard.rows_per_s": "rows/s", "chproto.encode_rows_per_s": "rows/s",
    **{f"query.{n}.{k}": "s" for n in queries.HEADLINE for k in ("build_s", "exec_s")},
    "query.build_s": "s", "query.exec_s": "s",
    "chdialect.translate_ms_p50": "ms", "chdialect.translate_s": "s",
    "dialect.exec_s": "s", "generator.late_p99_ms": "ms",
    "scaling.one_core_rows_per_s": "rows/s", "peak_rss_mb": "MB",
    **{f"self.{layer}_s": "s" for layer in SELF_LAYERS},
}


def _import_program(root: str) -> None:
    """The program under test is the package in the checkout root; without
    it there is nothing to measure, so fail before doing anything."""
    sys.path.insert(0, root)
    try:
        import clickhouse_sinker_spark.streaming.pipeline  # noqa: F401
    except ImportError as e:
        sys.exit(f"perfbench: cannot import the program from {root}: {e}")
    # Spark's Python workers import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description="spark-sinker benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    adopt_orphans()
    try:
        result = _run(a)
    finally:
        end_descendants()
    print(json.dumps(result))
    return 0


def _run(a) -> dict:
    """One run of a workload; returns the result line's object."""
    root = os.getcwd()
    _import_program(root)

    tracer = Tracer(enabled=bool(a.trace))
    ctx = Context(root, a.seed, a.seconds, tracer, T0, CORES)
    for scratch in ("run", "spark-local", "tmp"):
        shutil.rmtree(os.path.join(ctx.work, scratch), ignore_errors=True)
    os.makedirs(ctx.run_dir)
    os.makedirs(ctx.data, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(ctx.work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    host = HostState()

    run = {"ingest_backlog": ingest.run_backlog, "ingest_trickle": ingest.run_trickle,
           "query_library": queries.run_query_library}[a.workload]
    with TreeRss(exclude=ctx.helpers) as rss:
        try:
            out = run(ctx)
        finally:
            ctx.stop_session()
    out.metric("setup_s", ctx.setup_s, "s")
    # reported in every run, but bounded nowhere: the JVM's heap sizing makes
    # it differ by up to 2x between identical runs
    out.metric("peak_rss_mb", rss.peak / 2**20, "MB")
    out.layers["peak_rss_mb"] = rss.peak / 2**20
    if a.trace:
        selfs = tracer.self_times()
        for layer in SELF_LAYERS:
            out.layers[f"self.{layer}_s"] = selfs.get(layer, 0.0)
    report = _report(a, ctx, out, host.report())
    _print_report(report)

    if a.trace:
        tracer.write(os.path.join(ctx.work, f"trace-{a.workload}.json"), report=report)
        metrics = {n: {"value": float(out.layers.get(n, 0.0)), "unit": u}
                   for n, u in PER_LAYER.items()}
    else:
        with open(os.path.join(ctx.work, f"last-{a.workload}.json"), "w") as f:
            json.dump(report, f)
        metrics = {n: {"value": out.metrics[n][0], "unit": u} for n, u in END_TO_END.items()}
    return {"correct": out.correct, "attempted": max(out.attempted, 1),
            "failed": out.failed, "metrics": metrics}


def _report(a, ctx, out, host: dict) -> dict:
    report = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.metrics.items()},
        "workload_metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.named.items()},
        "failed_ratio": out.failed / max(out.attempted, 1),
        "checks": out.checks, "known_defects": out.known_defects,
        "layers": out.layers, "notes": out.notes, "host": host,
        "input_generation_s": ctx.input_s,
    }
    if a.trace:
        last = os.path.join(ctx.work, f"last-{a.workload}.json")
        if os.path.exists(last):
            with open(last) as f:
                base = json.load(f)
            report["tracing_overhead"] = {
                k: {"untraced": base["metrics"][k]["value"], "traced": v["value"],
                    "traced_minus_untraced": v["value"] - base["metrics"][k]["value"]}
                for k, v in report["metrics"].items() if k in base["metrics"]}
    return report


def _print_report(r: dict) -> None:
    print(f"perfbench {r['workload']} seed={r['seed']} seconds={r['seconds']} "
          f"trace={r['trace']}")
    for k, m in {**r["metrics"], **r["workload_metrics"]}.items():
        print(f"  {k:<28} {m['value']:>14.4f} {m['unit']}")
    print(f"  {'failed_ratio':<28} {r['failed_ratio']:>14.4f} ratio")
    for name, c in r["checks"].items():
        if not c["passed"]:
            tag = "KNOWN DEFECT" if name in r["known_defects"] else "FAILED"
            print(f"  check {name}: {tag} {c.get('detail') or c.get('error', '')}")
    print(f"  host {json.dumps(r['host'])}")
    if r["layers"]:
        for k in sorted(r["layers"]):
            print(f"  layer {k:<44} {r['layers'][k]:>14.4f}")
    one_core = r["layers"].get("scaling.one_core_rows_per_s")
    if one_core:
        target = BASELINE_TARGET_ROWS_PER_S_PER_CORE
        per_core = r["metrics"]["throughput_per_s"]["value"] / CORES
        print(f"  single core: {one_core:.0f} rows/s/core, {one_core / target:.2f}x "
              f"BASELINE.md's target of {target}; local[{CORES}] drain: {per_core:.0f} "
              "rows/s/core")
    if "tracing_overhead" in r:
        print(f"  tracing overhead {json.dumps(r['tracing_overhead'])}")
    sys.stdout.flush()


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
