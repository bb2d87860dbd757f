"""The benchmark's workloads. Each drives the program through its public
entry points on pages ``inputs.build`` generated, times every
operation, and runs the correctness gate on every operation's outputs
outside the timed region.

- ``batch-library``: ``pipeline.run_dedup`` plus a materialized
  ``cluster_report`` over one seeded page set, in a session warmed by one
  untimed run on the same pages; closed loop, one client, a fixed number
  of timed ops so the median is over the same ops every run.
- ``batch-job``: the shipped ``jobrunner.run_dedup_job`` on the same
  pages into a fresh warehouse, then the same call again (every stage
  resumes), after one untimed ``run_dedup`` over the same pages whose
  partition the job's committed one must equal.
- ``stream-microbatch``: a closed loop of ``streaming.process_batch``
  calls, one per seeded microbatch, into an initially empty warehouse;
  the final partition must equal ``run_dedup`` over the same pages. Not
  listed in BENCHMARK.json (see README.md).
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from perfbench import checks, host, inputs
from perfbench.trace import REPORT_DESC, Spans

#: per-scale sizes; ``tiny`` is for the benchmark's own smoke test only
SIZES = {
    "batch-library": {
        "full": {"docs": 2_000, "min_ops": 3, "max_ops": 3},
        "tiny": {"docs": 400, "min_ops": 1, "max_ops": 1},
    },
    "batch-job": {
        "full": {"docs": 2_000, "min_ops": 1, "max_ops": 1},
        "tiny": {"docs": 400, "min_ops": 1, "max_ops": 1},
    },
    "stream-microbatch": {
        "full": {"docs": 100, "min_ops": 2, "max_ops": 6},
        "tiny": {"docs": 60, "min_ops": 2, "max_ops": 2},
    },
}


@dataclass
class Ctx:
    spark: object
    work: str
    scratch: str
    seed: int
    seconds: float
    scale: str
    sampler: host.Sampler
    spans: Spans | None  # set in traced runs only
    corrupt: bool        # smoke test: damage the outputs before the gate


@dataclass
class Outcome:
    walls: list[float] = field(default_factory=list)
    windows: list[tuple[float, float]] = field(default_factory=list)
    docs: list[int] = field(default_factory=list)
    failed_ops: int = 0
    failures: list[str] = field(default_factory=list)
    resumes: list[float] = field(default_factory=list)
    resume_windows: list[tuple[float, float]] = field(default_factory=list)
    recall: float = 0.0
    precision: float = 0.0
    extra: dict[str, float] = field(default_factory=dict)


def phase(name: str, t0: float) -> None:
    """Progress line with the phase's duration (stdout, before the result)."""
    print(f"perfbench phase {name} {time.time() - t0:.3f}s", flush=True)


def _loop(ctx: Ctx, size: dict, op) -> None:
    """Closed loop: run ``op(i)`` until ``ctx.seconds`` of measuring have
    passed, at least ``min_ops`` and at most ``max_ops`` times."""
    deadline = time.time() + ctx.seconds
    i = 0
    while i < size["max_ops"] and (i < size["min_ops"] or time.time() < deadline):
        op(i)
        i += 1


def _corrupt(cluster_of: dict[str, int], pairs: list[tuple[str, str]]) -> None:
    """Split the first url of 5% of the eligible dup pairs (at least two)
    into singleton clusters — a deliberately wrong partition."""
    fresh = -1
    for a, _ in pairs[: max(2, len(pairs) // 20)]:
        cluster_of[a] = fresh
        fresh -= 1


def _cluster_map(df) -> dict[str, int]:
    pdf = df.select("url", "cluster_id").toPandas()
    return dict(zip(pdf["url"], pdf["cluster_id"].astype("int64")))


def _near_urls(edges, id_url: dict[int, str]) -> list[tuple[str, str]]:
    from pyspark.sql import functions as F

    pdf = edges.filter(F.col("kind") == "near").select("src", "dst").toPandas()
    return [(id_url[int(s)], id_url[int(d)]) for s, d in zip(pdf["src"], pdf["dst"])]


def _spill_dirs(scratch: str) -> list[str]:
    return glob.glob(os.path.join(scratch, "dedup-spill-*"))


def _batch_splits(scale: str) -> list[tuple[str, int, int]]:
    """Both batch workloads read the same cached pages."""
    return [("main", 0, SIZES["batch-job"][scale]["docs"])]


# -- batch-library ------------------------------------------------------------


def batch_library(ctx: Ctx) -> Outcome:
    from dedup import pipeline
    from dedup.config import DEFAULT_CONFIG as cfg

    size = SIZES["batch-library"][ctx.scale]
    t = time.time()
    data = inputs.build(ctx.work, ctx.seed, _batch_splits(ctx.scale))
    (main_dir,) = data.parts
    main_urls = set(data.pages["url"].iloc[: size["docs"]])
    pairs = checks.eligible_pairs(data.pages, data.truth, cfg)
    phase("inputs", t)
    spark = ctx.spark
    out = Outcome()
    cands_seen: list = []
    if ctx.spans is not None:
        ctx.spans.patch(pipeline, "sig_lookup_arrays", "candidates", name=lambda a, k: "lookup_build")
        orig_verify = pipeline.verify_jaccard_lazy

        def verify_spy(cands, *a, **k):
            cands_seen.append(cands)
            return orig_verify(cands, *a, **k)

        pipeline.verify_jaccard_lazy = verify_spy

    def dedup(path: str):
        res = pipeline.run_dedup(spark.read.parquet(path), cfg)
        with pipeline.job_desc(spark, REPORT_DESC):
            n = pipeline.cluster_report(res.clusters).count()
        return res, n

    def release(res) -> None:
        res.edges.unpersist()
        for d in _spill_dirs(ctx.scratch):
            shutil.rmtree(d, ignore_errors=True)

    try:
        t = time.time()
        # warm-up on the same pages: JIT, Python workers, codegen caches.
        # A warm-up on a small prefix costs about as much (~14 s, mostly
        # first-use costs) and leaves the first timed op ~20% slower.
        res, _ = dedup(main_dir)
        release(res)
        phase("warm-up", t)
        reference: dict[str, int] | None = None
        spill_bytes, pass_ratio = [], []

        def op(i: int) -> None:
            nonlocal reference
            with ctx.sampler.measuring():
                t0 = time.time()
                res, _n_clusters = dedup(main_dir)
                t1 = time.time()
            out.walls.append(t1 - t0)
            out.windows.append((t0, t1))
            out.docs.append(size["docs"])
            t = time.time()
            spill_bytes.append(sum(host.dir_bytes(d) for d in _spill_dirs(ctx.scratch)))
            cmap_pdf = res.clusters.select("doc_id", "url", "cluster_id").toPandas()
            cluster_of = dict(zip(cmap_pdf["url"], cmap_pdf["cluster_id"].astype("int64")))
            id_url = dict(zip(cmap_pdf["doc_id"].astype("int64"), cmap_pdf["url"]))
            near = _near_urls(res.edges, id_url)
            if ctx.spans is not None and cands_seen:
                with pipeline.job_desc(spark, "perfbench: trace count"):
                    pass_ratio.append(len(near) / max(1, cands_seen[-1].count()))
            if ctx.corrupt:
                _corrupt(cluster_of, pairs)
            rec = checks.recall(pairs, cluster_of)
            prec = checks.precision(near, data.pages, cfg, ctx.seed)
            fails = checks.gate(f"op {i}", cluster_of, main_urls, rec, prec, reference)
            reference = reference or cluster_of
            out.recall = rec if i == 0 else min(out.recall, rec)
            out.precision = prec if i == 0 else min(out.precision, prec)
            out.failures += fails
            out.failed_ops += bool(fails)
            release(res)
            phase(f"check op {i}", t)

        _loop(ctx, size, op)
        out.extra["pipeline.spill_bytes"] = statistics.median(spill_bytes)
        if pass_ratio:
            out.extra["verify.pass_ratio"] = statistics.median(pass_ratio)
    finally:
        if ctx.spans is not None:
            pipeline.verify_jaccard_lazy = orig_verify
    return out


# -- batch-job ----------------------------------------------------------------

#: stage table committed by the shipped job → layer of the work that runs
#: inside its commit (the job has no job_desc labels of its own; ``edges``
#: runs candidates and verification in one commit)
JOB_TABLE_LAYER = {
    "docs": "ingest",
    "signatures": "signatures",
    "edges": "edges",
    "clusters": "components",
    "report": "components",
}


def patch_tableio(spans: Spans, layer_of_table) -> None:
    """Spans around every TableIO entry point; writes are named by table."""
    from dedup.tableio import TableIO

    def table(args, kwargs) -> str:  # TableIO.write(self, df, table, ...)
        return args[2] if len(args) > 2 else kwargs["table"]

    spans.patch(TableIO, "write", lambda a, k: layer_of_table(table(a, k)),
                name=lambda a, k: f"write.{table(a, k)}")
    spans.patch(TableIO, "read", "tableio", name=lambda a, k: "read")
    spans.patch(TableIO, "find_stage", "tableio", name=lambda a, k: "bookkeeping")
    spans.patch(TableIO, "mark_stage", "tableio", name=lambda a, k: "bookkeeping")


def batch_job(ctx: Ctx) -> Outcome:
    from dedup import jobrunner, pipeline, tableio
    from dedup.config import DEFAULT_CONFIG as cfg

    size = SIZES["batch-job"][ctx.scale]
    t = time.time()
    data = inputs.build(ctx.work, ctx.seed, _batch_splits(ctx.scale))
    (main_dir,) = data.parts
    main_urls = set(data.pages["url"].iloc[: size["docs"]])
    pairs = checks.eligible_pairs(data.pages, data.truth, cfg)
    phase("inputs", t)
    spark = ctx.spark
    out = Outcome()
    if ctx.spans is not None:
        patch_tableio(ctx.spans, lambda table: JOB_TABLE_LAYER.get(table, "tableio"))
    wh = os.path.join(ctx.work, "warehouse")

    def job(tio, run_id: str) -> tuple[object, float, float]:
        t0 = time.time()
        runner = jobrunner.run_dedup_job(spark, tio, cfg, run_id, spark.read.parquet(main_dir))
        return runner, t0, time.time()

    # the library run over the same pages is the partition reference and
    # the warm-up (JIT, Python workers): the timed job still compiles its
    # own plans, as a spark-submit run does. A job warm-up would cost ~26 s
    # a run and was no steadier on a 4-core host (IQR/median of the job wall
    # 0.11 with it, 0.13 without, five seeds each).
    t = time.time()
    ref = pipeline.run_dedup(spark.read.parquet(main_dir), cfg)
    reference = _cluster_map(ref.clusters)
    ref.edges.unpersist()
    for d in _spill_dirs(ctx.scratch):
        shutil.rmtree(d, ignore_errors=True)
    phase("library reference", t)

    def op(i: int) -> None:
        host.clear_dir(wh)
        tio = tableio.TableIO(spark, wh)
        with ctx.sampler.measuring():
            runner, t0, t1 = job(tio, f"run{i}")
            resumed, r0, r1 = job(tio, f"run{i}")
        out.walls.append(t1 - t0)
        out.windows.append((t0, t1))
        out.resumes.append(r1 - r0)
        out.resume_windows.append((r0, r1))
        out.docs.append(size["docs"])
        t = time.time()
        fails = []
        if resumed.ran or sorted(resumed.skipped) != sorted(runner.ran):
            fails.append(f"op {i}: resume ran {resumed.ran}, skipped {resumed.skipped}")
        committed = tio.read("clusters").select("doc_id", "url", "cluster_id").toPandas()
        cluster_of = dict(zip(committed["url"], committed["cluster_id"].astype("int64")))
        id_url = dict(zip(committed["doc_id"].astype("int64"), committed["url"]))
        near = _near_urls(tio.read("edges"), id_url)
        if ctx.corrupt:
            _corrupt(cluster_of, pairs)
        rec = checks.recall(pairs, cluster_of)
        prec = checks.precision(near, data.pages, cfg, ctx.seed)
        fails += checks.gate(f"op {i}", cluster_of, main_urls, rec, prec, reference)
        out.recall = rec if i == 0 else min(out.recall, rec)
        out.precision = prec if i == 0 else min(out.precision, prec)
        out.failures += fails
        out.failed_ops += bool(fails)
        out.extra["tableio.bytes_written"] = host.dir_bytes(wh)
        phase(f"check op {i}", t)

    _loop(ctx, size, op)
    return out


# -- stream-microbatch --------------------------------------------------------


def stream_microbatch(ctx: Ctx) -> Outcome:
    from dedup import pipeline, streaming, tableio
    from dedup.config import DEFAULT_CONFIG as cfg

    size = SIZES["stream-microbatch"][ctx.scale]
    b = size["docs"]
    t = time.time()
    data = inputs.build(
        ctx.work, ctx.seed, [(f"batch{i}", i * b, (i + 1) * b) for i in range(size["max_ops"])]
    )
    phase("inputs", t)
    spark = ctx.spark
    wh = os.path.join(ctx.work, "warehouse")
    host.clear_dir(wh)
    tio = tableio.TableIO(spark, wh)
    out = Outcome()
    stats: list[dict] = []
    if ctx.spans is not None:
        patch_tableio(ctx.spans, lambda table: "tableio")
        ctx.spans.patch(streaming, "incremental_components", "components")

    def op(i: int) -> None:
        batch = spark.read.parquet(data.parts[i])
        with ctx.sampler.measuring():
            t0 = time.time()
            st = streaming.process_batch(spark, tio, cfg, batch, batch_id=i, run_id="perfbench")
            t1 = time.time()
        out.walls.append(t1 - t0)
        out.windows.append((t0, t1))
        out.docs.append(b)
        stats.append(st)
        if st["new_docs"] != b:
            out.failures.append(f"batch {i}: {st['new_docs']} new docs, expected {b}")
            out.failed_ops += 1

    _loop(ctx, size, op)
    t = time.time()
    n = len(out.walls)
    seen = data.pages.iloc[: n * b]
    committed = tio.read("clusters")
    cmap_pdf = committed.select("doc_id", "url", "cluster_id").toPandas()
    cluster_of = dict(zip(cmap_pdf["url"], cmap_pdf["cluster_id"].astype("int64")))
    id_url = dict(zip(cmap_pdf["doc_id"].astype("int64"), cmap_pdf["url"]))
    near = _near_urls(tio.read("edges"), id_url)
    ref = pipeline.run_dedup(spark.read.parquet(*data.parts[:n]), cfg)
    reference = _cluster_map(ref.clusters)
    ref.edges.unpersist()
    pairs = checks.eligible_pairs(seen, data.truth, cfg)
    if ctx.corrupt:
        _corrupt(cluster_of, pairs)
    out.recall = checks.recall(pairs, cluster_of)
    out.precision = checks.precision(near, seen, cfg, ctx.seed)
    fails = checks.gate("final stream partition", cluster_of, set(seen["url"]), out.recall,
                        out.precision, reference)
    if fails and not out.failures:
        out.failed_ops += 1  # the last batch produced the failing state
    out.failures += fails
    phase("check", t)
    out.extra["streaming.banded_rows"] = statistics.median(s["banded_rows"] for s in stats)
    out.extra["streaming.cc_edges"] = statistics.median(s["cc_edges"] for s in stats)
    out.extra["tableio.bytes_written"] = host.dir_bytes(wh) / n
    third = max(1, n // 3)
    out.extra["streaming.latency_growth"] = statistics.median(out.walls[-third:]) / statistics.median(
        out.walls[:third]
    )
    return out


WORKLOADS = {
    "batch-library": batch_library,
    "batch-job": batch_job,
    "stream-microbatch": stream_microbatch,
}
