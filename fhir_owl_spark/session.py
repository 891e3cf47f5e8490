"""SparkSession builder with scale-oriented defaults.

Single place for conf so bench runs at two parallelism levels are
identical apart from master (local[8] vs local[32] — the sandbox
stand-in for N vs 4N executors).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def get_spark(
    app_name: str = "fhir-owl-spark",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = parallelism or int(
        os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    )
    shuffle = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # AQE: runtime coalescing + skew-join splitting. The north rule also
        # demands explicit skew handling (operators/skew.py) — both are on.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.default.parallelism", str(cpus))
        # Arrow for all pandas-UDF stages (input_hint: vectorized, no per-row Python)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Keep timestamps deterministic across JVM/Python/DuckDB
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Prefer shuffled-hash over sort-merge when the planner's size
        # conditions hold, and let AQE rewrite SMJ→SHJ when every
        # post-shuffle partition is under the threshold (guide §3.1):
        # skips the per-partition sorts on the graph/setsim join chains
        # (triangles on the 5M-edge anchor measured −27%). Threshold is
        # deliberately conservative — concurrent tasks each hold one
        # build map, so cap ≈ cores × threshold must fit executor
        # memory; parameterized for cluster-side tuning.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get("SPARK_GRAFT_SHJ_THRESHOLD", "128m"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_df(spark: SparkSession, rows: list[tuple], schema: StructType) -> DataFrame:
    """Arrow-backed local relation from driver-side rows.

    createDataFrame over a Python list parallelizes PICKLED rows (an
    ExistingRDD scan): every action re-reads them through a Python
    worker, 0.64-0.79 s per one-row lineage append on a 4-core host. An
    Arrow table becomes a JVM-only LocalRelation (LocalTableScan, zero
    rows included) with the explicit schema unchanged. Tested column
    types: string, bool, int, long and timestamp (None is null). Naive
    datetimes are taken as UTC instants, the session zone pinned above;
    the pickled path reads them in the process's local zone."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
