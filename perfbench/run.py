#!/usr/bin/env python3
"""Benchmark of the dedup program.

    python3 perfbench/run.py --workload batch-library --seed 1 --seconds 10 --trace 0

Generates the workload's pages from ``--seed``, starts a Spark session
with the program's own defaults, measures the workload for at least
``--seconds`` seconds, checks every operation's outputs, and prints as
its last stdout line one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). Exits 1 when a correctness check
fails and 2 when the program is not in the checkout. Everything it
writes stays under ``.perfbench_work/`` at the checkout root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "docs_per_s": "docs/s",
    "dup_pair_recall": "ratio",
    "edge_precision": "ratio",
    "peak_rss_gb": "GB",
    "scratch_written_gb": "GB",
}

TABLES = ("docs", "signatures", "edges", "clusters", "report")
BOOKKEEPING_SPANS = ("write.lineage", "write.metrics", "write.stream_meta", "bookkeeping")

PER_LAYER = {
    "session.jvm_start_s": "s",
    "session.worker_warm_s": "s",
    "ingest.wall_s": "s",
    "ingest.task_s": "s",
    "ingest.python_s": "s",
    "ingest.probe_s": "s",
    "signatures.wall_s": "s",
    "signatures.python_s": "s",
    "candidates.lookup_build_s": "s",
    "candidates.wall_s": "s",
    "candidates.task_s": "s",
    "candidates.shuffle_bytes": "bytes",
    "verify.wall_s": "s",
    "verify.python_s": "s",
    "verify.pass_ratio": "ratio",
    "edges.wall_s": "s",
    "edges.python_s": "s",
    "components.wall_s": "s",
    "components.jobs": "count",
    "pipeline.driver_gap_s": "s",
    "pipeline.unlabeled_s": "s",
    "pipeline.spill_bytes": "bytes",
    **{f"tableio.write_s.{t}": "s" for t in TABLES},
    "tableio.bookkeeping_s": "s",
    "tableio.read_s": "s",
    "tableio.bytes_written": "bytes",
    "job.resume_s": "s",
    "spark.jobs": "count",
    "spark.gc_s": "s",
    "spark.python_start_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
    "trace.concurrent_s": "s",
    "trace.coverage": "ratio",
}

#: extra per-layer metrics of stream-microbatch, a workload BENCHMARK.json
#: does not list (see README.md)
STREAM_LAYER = {
    "tableio.write_s.bands": "s",
    "tableio.write_s.chunks": "s",
    "streaming.jobs_per_batch": "count",
    "streaming.commit_s_per_batch": "s",
    "streaming.banded_rows": "count",
    "streaming.cc_edges": "count",
    "streaming.latency_growth": "ratio",
}


def _identity(batches):
    yield from batches


def _first_arrow_job(spark, n: int) -> None:
    """One Arrow-UDF task per core, so every Python worker is booted."""
    spark.range(0, 64 * n, numPartitions=n).mapInArrow(_identity, "id long").collect()


def _stop(spark) -> None:
    """Stop the session, then the gateway JVM and every process under it."""
    from pyspark import SparkContext

    from perfbench import host

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    kids = host.descendants(os.getpid())
    spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    host.reap(kids)


def _env(scratch: str, tmp: str, nproc: int) -> None:
    """Host overrides, set before the JVM starts (perfbench/layers.json
    lists them): cores from the host, every file under the checkout, and
    the checkout on the Python workers' import path."""
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["DEDUP_SCRATCH"] = scratch
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["TMPDIR"] = tmp
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")


def _record_path(workload: str, scale: str) -> str:
    return os.path.join(WORK, "records", f"{workload}-{scale}.json")


def layer_metrics(workload: str, scale: str, out, wins, resume_wins, session: dict) -> dict[str, float]:
    """Per-layer metrics: medians over the ops' attributed windows."""

    def med(f, ws=wins) -> float:
        return float(statistics.median(f(w) for w in ws)) if ws else 0.0

    def self_s(layer: str) -> float:
        return med(lambda w: w.self_s.get(layer, 0.0))

    m = dict(session)
    for layer in ("ingest", "signatures", "candidates", "verify", "edges", "components"):
        m[f"{layer}.wall_s"] = self_s(layer)
    for layer in ("ingest", "signatures", "verify", "edges"):
        m[f"{layer}.python_s"] = med(lambda w: w.python_s.get(layer, 0.0))
    m["ingest.task_s"] = med(lambda w: w.task_s.get("ingest", 0.0))
    m["ingest.probe_s"] = med(lambda w: w.probe_s)
    m["candidates.lookup_build_s"] = med(lambda w: w.span_s.get("lookup_build", 0.0))
    m["candidates.task_s"] = med(lambda w: w.task_s.get("candidates", 0.0))
    m["candidates.shuffle_bytes"] = med(lambda w: w.shuffle_bytes.get("candidates", 0))
    m["components.jobs"] = med(lambda w: w.jobs.get("components", 0))
    m["pipeline.driver_gap_s"] = med(lambda w: w.driver_gap_s)
    m["pipeline.unlabeled_s"] = self_s("unlabeled")
    for t in (*TABLES, "bands", "chunks"):
        m[f"tableio.write_s.{t}"] = med(lambda w: w.span_s.get(f"write.{t}", 0.0))
    m["tableio.bookkeeping_s"] = med(lambda w: sum(w.span_s.get(s, 0.0) for s in BOOKKEEPING_SPANS))
    m["tableio.read_s"] = med(lambda w: w.span_s.get("read", 0.0)) + med(
        lambda w: w.span_s.get("read", 0.0), resume_wins
    )
    m["job.resume_s"] = float(statistics.median(out.resumes)) if out.resumes else 0.0
    m["spark.jobs"] = med(lambda w: w.n_jobs)
    m["spark.gc_s"] = med(lambda w: w.gc_s)
    m["spark.python_start_s"] = med(lambda w: w.python_start_s)
    m["spark.shuffle_write_bytes"] = med(lambda w: w.shuffle_write_bytes)
    m["trace.wall_s"] = float(statistics.median(out.walls))
    m["trace.concurrent_s"] = med(lambda w: w.concurrent_s)
    m["trace.coverage"] = med(lambda w: (sum(w.self_s.values()) + w.driver_gap_s) / w.wall_s)
    untraced = None
    if os.path.exists(_record_path(workload, scale)):
        with open(_record_path(workload, scale)) as f:
            untraced = json.load(f)["wall_s"]
    m["trace.overhead_s"] = m["trace.wall_s"] - untraced if untraced is not None else 0.0
    if workload == "stream-microbatch":
        m["streaming.jobs_per_batch"] = m["spark.jobs"]
        m["streaming.commit_s_per_batch"] = med(
            lambda w: sum(v for k, v in w.span_s.items() if k.startswith("write."))
        )
    for k in (*PER_LAYER, *STREAM_LAYER):
        m.setdefault(k, float(out.extra.get(k, 0.0)))
    return m


def print_layer_table(workload: str, wins) -> None:
    print(f"perfbench layers {workload} (self/task/python seconds per op, median over {len(wins)} ops)")
    layers = sorted({k for w in wins for k in w.self_s})
    print(f"  {'layer':<14}{'self_s':>10}{'task_s':>10}{'python_s':>10}{'jobs':>6}")
    for layer in layers:
        row = [statistics.median(getattr(w, f).get(layer, 0.0) for w in wins)
               for f in ("self_s", "task_s", "python_s", "jobs")]
        print(f"  {layer:<14}{row[0]:>10.3f}{row[1]:>10.3f}{row[2]:>10.3f}{row[3]:>6.0f}")
    gap = statistics.median(w.driver_gap_s for w in wins)
    wall = statistics.median(w.wall_s for w in wins)
    print(f"  {'driver gap':<14}{gap:>10.3f}")
    print(f"  {'wall':<14}{wall:>10.3f}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["batch-library", "batch-job", "stream-microbatch"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full",
                    help="input sizes; tiny is for perfbench/smoke.py only")
    ap.add_argument("--corrupt", action="store_true",
                    help="damage the cluster partition before the gate (smoke test)")
    args = ap.parse_args(argv)

    # the script's own dir would otherwise shadow stdlib modules (trace)
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") not in (here, ROOT)]
    try:
        import dedup.pipeline  # noqa: F401
        import tests.oracle  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the dedup program is not in this checkout: {exc}", file=sys.stderr)
        return 2

    from perfbench import host, trace, workloads

    scratch = os.path.join(WORK, "scratch")
    tmp = os.path.join(WORK, "tmp")
    evdir = os.path.join(WORK, "eventlog")
    for d in (scratch, tmp, evdir):
        host.clear_dir(d)  # leftovers of a killed run
    nproc = host.nproc()
    _env(scratch, tmp, nproc)
    import tempfile

    tempfile.tempdir = tmp
    print("perfbench host " + json.dumps(host.host_record(scratch)), flush=True)

    import pyspark.core.context as pyspark_context

    from dedup.session import get_spark

    spans = trace.Spans()
    spans.patch(pyspark_context, "launch_gateway", "session", name=lambda a, k: "jvm_start")
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
    }
    if args.trace:
        conf.update(trace.eventlog_conf(evdir))
    with host.Sampler(scratch) as sampler:
        t0 = time.time()
        spark = get_spark(extra_conf=conf)
        t1 = time.time()
        _first_arrow_job(spark, nproc)
        t2 = time.time()
        session = {
            "session.jvm_start_s": sum(s.t1 - s.t0 for s in spans.items if s.name == "jvm_start"),
            "session.worker_warm_s": t2 - t1,
        }
        ctx = workloads.Ctx(spark, WORK, scratch, args.seed, args.seconds, args.scale, sampler,
                            spans if args.trace else None, args.corrupt)
        try:
            out = workloads.WORKLOADS[args.workload](ctx)
        finally:
            spans.restore()
            _stop(spark)

    for line in out.failures:
        print(f"perfbench FAILED {line}", file=sys.stderr)
    for i, w in enumerate(out.walls):
        resume = f" resume_s {out.resumes[i]:.6f}" if out.resumes else ""
        print(f"perfbench op {i} wall_s {w:.6f} docs {out.docs[i]}{resume}")
    correct = out.failed_ops == 0 and not out.failures
    if args.trace:
        jobs = trace.read_eventlog(evdir)
        wins = [trace.attribute(jobs, spans.within(a, b), a, b) for a, b in out.windows]
        resume_wins = [trace.attribute(jobs, spans.within(a, b), a, b) for a, b in out.resume_windows]
        print_layer_table(args.workload, wins)
        values = layer_metrics(args.workload, args.scale, out, wins, resume_wins, session)
        units = {**PER_LAYER, **(STREAM_LAYER if args.workload == "stream-microbatch" else {})}
    else:
        values = {
            "setup_s": t2 - t0,
            "wall_s": float(statistics.median(out.walls)),
            "docs_per_s": float(statistics.median(d / w for d, w in zip(out.docs, out.walls))),
            "dup_pair_recall": out.recall,
            "edge_precision": out.precision,
            "peak_rss_gb": sampler.peak_rss / 1e9,
            "scratch_written_gb": statistics.median(sampler.scratch_written) / 1e9,
        }
        units = END_TO_END
        os.makedirs(os.path.dirname(_record_path(args.workload, args.scale)), exist_ok=True)
        with open(_record_path(args.workload, args.scale), "w") as f:
            json.dump({"wall_s": values["wall_s"]}, f)
    for k in units:
        print(f"perfbench metric {k} {values[k]!r} {units[k]}")
    result = {
        "correct": correct,
        "attempted": len(out.walls),
        "failed": out.failed_ops,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
