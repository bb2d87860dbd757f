"""The shipped job runs the library's stage graph: its committed edges
and clusters equal ``pipeline.run_dedup``'s on the same pages, and a
``Runner.stage`` commit's bookkeeping costs a pinned number of Spark
jobs (one lineage aggregation, no schema inference, no extra count)."""

from __future__ import annotations

from dedup.config import DEFAULT_CONFIG
from dedup.jobrunner import Runner, run_dedup_job
from dedup.pipeline import run_dedup
from dedup.tableio import TableIO


def _partition(rows) -> set[frozenset]:
    groups: dict[int, set] = {}
    for doc_id, cluster_id in rows:
        groups.setdefault(cluster_id, set()).add(doc_id)
    return {frozenset(g) for g in groups.values()}


def test_job_edges_and_clusters_equal_library(spark, tiny_pages_df, tmp_path):
    cfg = DEFAULT_CONFIG
    pages = tiny_pages_df.limit(300)
    lib = run_dedup(pages, cfg)
    lib_edges = {(r.src, r.dst, r.kind) for r in lib.edges.collect()}
    lib_parts = _partition(
        (r.doc_id, r.cluster_id) for r in lib.clusters.select("doc_id", "cluster_id").collect()
    )
    lib.edges.unpersist()

    tio = TableIO(spark, str(tmp_path / "wh"), backend="parquet")
    r = run_dedup_job(spark, tio, cfg, "parity", pages)
    assert r.ran == ["docs", "signatures", "edges", "clusters", "report"]
    job_edges = {(e.src, e.dst, e.kind) for e in tio.read("edges").collect()}
    assert any(k == "near" for _, _, k in job_edges)
    assert job_edges == lib_edges
    job_parts = _partition(
        (c.doc_id, c.cluster_id) for c in tio.read("clusters").collect()
    )
    assert job_parts == lib_parts


def _jobs_in_group(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_stage_commit_spark_job_count(spark, tmp_path):
    """One commit = the snapshot write, one lineage aggregation (its
    shuffle map stage and result stage under AQE), and the lineage and
    metrics appends from Arrow local relations; the read-back and a
    resumed stage's read run no schema-inference job."""
    from pyspark.sql import functions as F

    tio = TableIO(spark, str(tmp_path / "wh"), backend="parquet")
    df = spark.range(1000).select(F.col("id").alias("doc_id"), (F.col("id") * 7).alias("v"))
    r = Runner(spark, tio, DEFAULT_CONFIG, "jobs")
    commit = _jobs_in_group(
        spark, "stage-commit", lambda: r.stage("t", lambda: df, sort_within=["doc_id"])
    )
    resume = _jobs_in_group(
        spark, "stage-resume", lambda: r.stage("t", lambda: df, sort_within=["doc_id"])
    )
    assert (r.ran, r.skipped) == (["t"], ["t"])
    assert commit == 5
    assert resume == 0
    assert {m.key: m.value for m in tio.read("metrics").collect()}["rows"] == 1000.0
    lineage = tio.read("lineage").collect()
    assert sum(x.rows_out for x in lineage) == 1000
    assert {x.stage for x in lineage} == {"t"}
