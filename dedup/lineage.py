"""Per-partition lineage + per-stage metrics (SURVEY.md §4.2,
BASELINE.json:6 "per-partition lineage rows and metrics checkpointed").

Lineage capture is ONE pure-SQL aggregation over ``spark_partition_id()``
of the committed snapshot, collected to the driver — one row per
physical partition with its row count, whose sum is also the stage's
``rows`` metric (no separate ``count()``). The lineage and metrics
frames are then built from pandas, so Spark turns them into Arrow-fed
local relations: committing them launches no Python worker, which for a
few-row frame would cost far more than the rows themselves (the
boundary cost CIDR'22 "Accelerating Python UDFs in Vectorized Query
Execution" separates out)."""

from __future__ import annotations

import time

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dedup.schema import LINEAGE, METRICS


def partition_counts(df: DataFrame) -> list[tuple[int, int]]:
    """``(partition_id, rows)`` of every non-empty partition of ``df``."""
    agg = df.groupBy(F.spark_partition_id().alias("pid")).agg(F.count("*").alias("n"))
    return [(r["pid"], r["n"]) for r in agg.collect()]


def lineage_df(
    spark, run_id: str, stage: str, counts: list[tuple[int, int]],
    wall_ms: int | None = None, snapshot_id: int | None = None,
) -> DataFrame:
    """One lineage row per ``partition_counts`` entry (schema.LINEAGE)."""
    pdf = pd.DataFrame(
        {
            "run_id": run_id,
            "stage": stage,
            "partition_id": pd.Series([p for p, _ in counts], dtype="int32"),
            "rows_out": pd.Series([n for _, n in counts], dtype="int64"),
            "wall_ms": pd.Series([wall_ms] * len(counts), dtype="Int64"),
            "snapshot_id": pd.Series([snapshot_id] * len(counts), dtype="Int64"),
        },
        columns=LINEAGE.fieldNames(),
    )
    return spark.createDataFrame(pdf, schema=LINEAGE)


def metrics_df(spark, run_id: str, stage: str, values: dict[str, float]) -> DataFrame:
    """One metrics row per ``values`` item (schema.METRICS)."""
    pdf = pd.DataFrame(
        {
            "run_id": run_id,
            "stage": stage,
            "key": list(values),
            "value": [float(v) for v in values.values()],
        },
        columns=METRICS.fieldNames(),
    )
    return spark.createDataFrame(pdf, schema=METRICS)


class StageTimer:
    """Context manager: wall-clock a stage for lineage/metrics."""

    def __enter__(self):
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall_ms = int((time.perf_counter() - self.t0) * 1000)
        return False
