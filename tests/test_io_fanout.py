"""Focused tests for the r14 small-scan fan-out (io.fan_out_small_scan).

The optimization: a single-file parquet table smaller than one scan split is
one scan task (single row group in the fixtures), so a fused expression-heavy
pipeline above it — tokenize, per-gram md5, explode, int8 folds — runs on one
core. The measured winners (dd4/dd7/dd10/tx16/tx9/pipe5/tx11/pipe16) opt in
PER OPERATOR via ``fan_out_small_scan(df, key)``: a KEYED hash repartition
to ``defaultParallelism`` (round-robin pays sortBeforeRepartition on the
full rows — A/B-measured as a 2–3× tax on light queries), gated on
estimated bytes under one scan split (read from
``spark.sql.files.maxPartitionBytes``, r15) AND partitions < cores, so
cluster-scale layouts never pay the shuffle. These tests pin the gate's
behaviors.
"""

from __future__ import annotations

import pytest

from trafficanalysisbigdata_spark.io import fan_out_small_scan, load_table

_MPB = "spark.sql.files.maxPartitionBytes"
_TINY_SPLITS = ("1", "1b")


@pytest.fixture()
def _tiny_split(spark):
    """Yields a setter that shrinks the session's scan-split conf so every
    frame estimates 'big enough' — the gate must read the CONF (r14 advice),
    not a constant — and restores the conf afterwards. "1b" is a valid
    Spark byte string for one byte, so the gate must read it as 1 too."""
    orig = spark.conf.get(_MPB)
    yield lambda value: spark.conf.set(_MPB, value)
    spark.conf.set(_MPB, orig)


def test_small_scan_fans_out_to_parallelism(spark, sf_dir):
    cores = spark.sparkContext.defaultParallelism
    df = fan_out_small_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    n = df.rdd.getNumPartitions()
    assert n == cores, f"expected {cores} partitions after fan-out, got {n}"


def test_gate_off_past_size_bound(spark, sf_dir, _tiny_split):
    # with maxPartitionBytes=1 every frame sits past one "split": the gate
    # must come back untouched, proving the bound tracks the session conf.
    # One partition, so the partitions-vs-cores gate cannot mask the size
    # gate (a 1-byte split alone scans as thousands of partitions)
    base = load_table(spark, sf_dir, "embeddings").coalesce(1)
    for value in _TINY_SPLITS:
        _tiny_split(value)
        df = fan_out_small_scan(base, "vec_id")
        assert df is base, value  # untouched — no repartition node added


def test_gate_off_when_partitions_cover_cores(spark, sf_dir):
    cores = spark.sparkContext.defaultParallelism
    base = load_table(spark, sf_dir, "documents").repartition(cores, "doc_id")
    df = fan_out_small_scan(base, "doc_id")
    assert df is base  # already cores-wide: adding another exchange is waste


def test_gate_off_on_multi_file_layout(spark, sf_dir, tmp_path):
    # the at-scale claim, receipted on an ACTUAL multi-file layout (r14
    # verdict item #9): a table laid out as >= cores files scans with
    # >= cores input partitions (openCostInBytes pads tiny files into their
    # own splits), so the gate must stay off even though the bytes are small
    cores = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "docs_multifile")
    load_table(spark, sf_dir, "documents").repartition(cores * 2).write.parquet(path)
    base = spark.read.parquet(path)
    assert base.rdd.getNumPartitions() >= cores  # layout precondition
    df = fan_out_small_scan(base, "doc_id")
    assert df is base  # untouched — real layouts never pay the shuffle


def test_fanout_is_keyed_not_roundrobin(spark, sf_dir):
    # keyed hash partitioning — round-robin's sortBeforeRepartition was the
    # measured light-query tax; the plan must show hashpartitioning(doc_id)
    df = fan_out_small_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(doc_id" in plan, plan
    assert "roundrobinpartitioning" not in plan, plan


def test_fanout_changes_no_rows(spark, sf_dir):
    base = load_table(spark, sf_dir, "documents")
    fanned = fan_out_small_scan(base, "doc_id")
    rows_plain = sorted(r.doc_id for r in base.select("doc_id").collect())
    rows_fanned = sorted(r.doc_id for r in fanned.select("doc_id").collect())
    assert rows_plain == rows_fanned
