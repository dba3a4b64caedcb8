"""Table loaders / sinks over the driver's parquet fixtures.

Scans are plain ``spark.read.parquet`` so Catalyst keeps predicate pushdown,
column pruning, and (when the layout is partitioned) partition pruning. At
cluster scale the same loaders work against a partitioned/bucketed lakehouse
layout — see ``write_partitioned``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any scale factor (region and
# nation are bounded by geography; supplier/part/customer grow with SF but the
# *driver fixtures* keep them tiny — joins against them take a broadcast hint
# only where the table is bounded in principle).
BROADCAST_SAFE = {"region", "nation"}

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def fan_out_small_scan(df: DataFrame, key_col: str) -> DataFrame:
    """Scale-adaptive fan-out for EXPRESSION-HEAVY pipelines over a small
    scan: when the frame has fewer partitions than the session has cores AND
    is estimated under one scan split, hash-repartition it on ``key_col`` to
    ``defaultParallelism`` so the md5/tokenize/fold work above it runs
    cores-wide instead of on the scan's single task.

    Opt-in PER OPERATOR, never per table: the r14 interleaved A/Bs measured
    the win only where per-row expression cost dominates (per-gram md5
    pipelines: dd4/dd7/dd10/tx16/tx9/pipe5/tx11; int8 quantization+folds:
    pipe16) and a 2–3× TAX on light queries that share the same tables
    (tx18/mm9/pipe7–9), so a blanket table-level fan-out loses net. Keyed
    hash partitioning on the unique id — NOT round-robin, whose
    sortBeforeRepartition pays a full local sort of the rows (guide §2.5;
    measured as most of the light-query tax) — and a unique key spreads
    evenly at any scale. Both gate operands derive from the environment
    (estimated bytes, partition count, session parallelism): a real layout
    has many splits and/or exceeds the size bound, so cluster-scale scans
    never pay the shuffle; the shuffle, when it fires, moves under one
    split of bytes."""
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    if cores <= 1:
        return df
    try:
        # size gate FIRST: it reads optimized-plan statistics (no physical
        # planning), and every at-scale layout exceeds one split, so the
        # df.rdd physical-plan compile below is only ever paid by frames
        # already known to be small (r14 verdict item on double planning).
        # One split is spark.sql.files.maxPartitionBytes as Spark parses it.
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
        if est >= split:
            return df
        if df.rdd.getNumPartitions() >= cores:
            return df
    except Exception:  # estimation unavailable — leave the plan untouched
        return df
    return df.repartition(cores, F.col(key_col))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # TIMESTAMP(NANOS) read as long (see session.RUNTIME_CONFS); convert
        # to microsecond timestamp with integer division — ts/1000 in floating
        # point would lose precision above 2^53 ns (~1970+104 days).
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register the named tables (default: all) as temp views for spark.sql."""
    for name in names or TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    bucket_by: tuple[int, list[str]] | None = None,
    table_name: str | None = None,
) -> None:
    """Scale-path sink: date/key-partitioned, optionally bucketed, parquet.

    Bucketing co-locates later joins/aggregations on the bucket keys without a
    shuffle; it requires a managed table (``saveAsTable``).
    """
    writer = df.write.mode("overwrite").format("parquet")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if bucket_by:
        n, cols = bucket_by
        if not table_name:
            raise ValueError("bucketed writes need table_name for saveAsTable")
        writer.option("path", path).bucketBy(n, *cols).sortBy(*cols).saveAsTable(table_name)
        return
    writer.save(path)


def write_sorted(df: DataFrame, path: str, sort_col: str, n_files: int) -> None:
    """Range-partitioned, sorted parquet layout — the zone-map/data-skipping
    strategy for range-filtered scans (time-series facts above all): rows are
    range-partitioned on ``sort_col`` into ``n_files`` disjoint spans and
    sorted within each, so every file's parquet footer carries a TIGHT
    min/max for the column. A later range predicate prunes whole files and
    row groups at planning/scan time — bytes read scale with the predicate's
    span, not the table. The same layout is what table formats call
    clustering/Z-ordering in the single-column case.
    """
    (
        df.repartitionByRange(n_files, sort_col)
        .sortWithinPartitions(sort_col)
        .write.mode("overwrite")
        .parquet(path)
    )


def zorder_col(u: F.Column, v: F.Column, bits: int = 16) -> F.Column:
    """Interleave the low ``bits`` bits of two non-negative integer columns
    into a Morton (z-order) key: z = ... v1 u1 v0 u0.

    Pure Catalyst bit math (shift/and/or), so the key computation is
    whole-stage-codegen and never leaves the JVM."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(u, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(v, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def write_zorder(
    df: DataFrame, path: str, col_a: str, col_b: str, n_files: int, bits: int = 16
) -> None:
    """Two-column z-order clustered parquet layout — the multi-dimensional
    generalization of ``write_sorted``: each column is min-max normalized to
    a ``bits``-bit rank (bounds from one scalar aggregate, broadcast back),
    the ranks interleave into a Morton key, and rows are range-partitioned +
    sorted on that key. Because the z-curve preserves locality in BOTH
    dimensions, every file's parquet footer carries a tight min/max box on
    col_a AND col_b simultaneously (asserted on disk in
    tests/test_operator_edges.py) — so a predicate on either column, or a
    box on both, prunes files/row groups. A single-column sort gives tight
    footers on one dimension and full-range footers on every other; z-order
    is what table formats run for multi-dimension clustering.
    """
    top = float((1 << bits) - 1)
    bounds = df.agg(
        F.min(col_a).cast("double").alias("_a_lo"),
        F.max(col_a).cast("double").alias("_a_hi"),
        F.min(col_b).cast("double").alias("_b_lo"),
        F.max(col_b).cast("double").alias("_b_hi"),
    )

    def rank(c: str, lo: str, hi: str) -> F.Column:
        span = F.greatest(F.col(hi) - F.col(lo), F.lit(1e-12))
        frac = (F.col(c).cast("double") - F.col(lo)) / span
        return F.floor(frac * top).cast("long")

    keyed = df.crossJoin(F.broadcast(bounds)).withColumn(
        "_z", zorder_col(rank(col_a, "_a_lo", "_a_hi"), rank(col_b, "_b_lo", "_b_hi"))
    )
    (
        keyed.repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z", "_a_lo", "_a_hi", "_b_lo", "_b_hi")
        .write.mode("overwrite")
        .parquet(path)
    )
