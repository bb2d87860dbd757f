"""Per-round benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line::

    {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Headline set = the pipeline stages that dominate at 100 TB (signature
computation, LSH candidate join, clustering) plus the scan-bound
training-data ops (quality/lang/token) and the embedding ANN path. The
brute-force O(n²) variants are deliberately NOT benched — the LSH paths
are the scale story.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
if REPO not in sys.path:
    sys.path.insert(0, REPO)


def bench_queries(spark, sf_dir: str) -> dict[str, callable]:
    from pyspark.sql import functions as F

    from dedup.config import DEFAULT_CONFIG
    from dedup.pipeline import cluster_report, run_dedup
    from dedup.queries import REGISTRY, documents_as_pages

    def near_dup_pipeline():
        res = run_dedup(documents_as_pages(spark, sf_dir), DEFAULT_CONFIG)
        n = cluster_report(res.clusters).count()
        for df in (res.docs, res.signatures, res.edges):
            df.unpersist()
        return n

    def q(name):
        return lambda: REGISTRY[name][0](spark, sf_dir).count()

    return {
        "near_dup_pipeline": near_dup_pipeline,
        "exact_dedup": q("exact_dedup"),
        "quality_scan": q("quality_score"),
        "lang_id_scan": q("lang_id"),
        "token_count_scan": q("token_count"),
        "minhash_signatures": q("minhash"),
        "simhash_blocking": q("hamming_simhash"),
        "ann_lsh": q("ann_lsh"),
        "group_topk": q("topk_per_group"),
        "asof_latest": q("asof_latest"),
    }


def _memcpy_probe_ms() -> float:
    """Host-window probe (CLAUDE.md protocol): copy a TOUCHED 64 MB
    buffer; < 20 ms means the shared VM is in a usable window. The value
    is reported in the JSON line so a slow headline number carries its
    own host-state evidence."""
    import numpy as np

    a = np.ones(64 * 1024 * 1024 // 8, dtype=np.float64)  # touched on init
    best = float("inf")
    for _ in range(3):  # first copy can eat residual-load transients
        t0 = time.perf_counter()
        a.copy()
        best = min(best, time.perf_counter() - t0)
    return round(best * 1000, 1)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    memcpy_ms = _memcpy_probe_ms()

    from dedup.session import get_spark

    spark = get_spark(
        app_name="dedup-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 8),
    )
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()

    queries = bench_queries(spark, sf_dir)
    # warm-up: JVM codegen, shuffle machinery, and the Python worker pool
    # (a real pandas-UDF job) are spun up once, outside timing
    from pyspark.sql import functions as F

    from dedup.udfs import mean_udf

    warm = spark.range(1000).withColumn("g", F.col("id") % 8)
    warm.groupBy("g").agg(mean_udf("id")).count()

    times: dict[str, float] = {}
    for name, fn in queries.items():
        t0 = time.perf_counter()
        fn()
        times[name] = round(time.perf_counter() - t0, 3)

    # warm pipeline pass: same job, caches dropped, JVM/codegen hot —
    # the number comparable across parallelism levels (BENCH/BASELINE.md).
    # BEST-OF-3: this shared VM shows ±2x run-to-run windows (identical
    # stages measured 8 s and 17 s back-to-back — CLAUDE.md), so a
    # single draw confounds host noise with regressions; the minimum is
    # the host-noise-free estimate of the code's cost. All three draws
    # are reported for the record.
    warm_runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        queries["near_dup_pipeline"]()
        warm_runs.append(round(time.perf_counter() - t0, 3))
    times["near_dup_pipeline_warm"] = min(warm_runs)

    total = round(sum(times.values()), 3)
    pipeline_docs_per_sec = round(n_docs / times["near_dup_pipeline_warm"], 1)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    line = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "n_docs": n_docs,
        "pipeline_docs_per_sec": pipeline_docs_per_sec,
        "cpus": cpus,
        "warm_runs": warm_runs,
        "host_memcpy_ms": memcpy_ms,
        "host_load1": round(os.getloadavg()[0], 1),
    }
    # Scaling evidence (BASELINE.json north rule, executor form): embed
    # the latest COMPUTED two-level profile artifact — measured local
    # efficiency plus the executor-scaling counterfactual with its
    # model inputs — produced by BENCH/profile_jobs.py at 500k docs
    # (the bench's own sf is far too small to measure scaling on).
    # The artifact carries its own regeneration command + host probes.
    cf_path = os.path.join(REPO, "BENCH", "counterfactual.json")
    if os.path.exists(cf_path):
        with open(cf_path) as f:
            art = json.load(f)
        line["scaling"] = {
            "n_docs": art.get("n_docs"),
            "measured_at": art.get("measured_at"),
            **(art.get("counterfactual") or {}),
        }
    print(json.dumps(line))
    spark.stop()


if __name__ == "__main__":
    main()
