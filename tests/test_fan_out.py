"""session.fan_out — the r14 scan-parallelism restorer (guide §2.5).

Contract: a no-op whenever the source can already parallelize (enough
row groups) or is too small to bother; otherwise a round-robin
repartition derived from cores and rows that never changes query
results (order-insensitive surface — every gate row it feeds is an
aggregation/election, verified against the DuckDB oracle in
check_oracle and the sf0.1 sweep)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from jetro_spark.session import _FAN_META, fan_out, get_spark, load_tables

SF01 = "/root/testdata/sf0.1"


@pytest.fixture(scope="module")
def spark():
    return get_spark("test_fan_out")


@pytest.fixture(scope="module")
def tables(spark):
    return load_tables(spark, SF01, register=False)


def test_single_row_group_table_is_fanned(spark, tables):
    d = tables["documents"]
    assert _FAN_META[d] == (1, 5000)
    f = fan_out(d)
    assert f is not d
    n = f.rdd.getNumPartitions()
    cores = spark.sparkContext.defaultParallelism
    assert 2 <= n <= cores
    # full=True uses every core (broadcast-only downstream)
    assert fan_out(d, full=True).rdd.getNumPartitions() == min(
        cores, 5000 // 32)


def test_small_table_is_not_fanned(tables):
    # region: 5 rows — distribution would be pure overhead
    assert fan_out(tables["region"]) is tables["region"]


def test_unknown_dataframe_is_not_fanned(spark, tables):
    # a derived frame has no scan metadata -> exact no-op (this is what
    # makes fan_out safe to leave in library call paths at production
    # scale: unknown/multi-row-group inputs never pay an exchange)
    derived = tables["documents"].select("doc_id")
    assert fan_out(derived) is derived


def test_fan_out_preserves_results(tables):
    d = tables["documents"]
    base = {(r["doc_id"], r["n"]) for r in
            d.groupBy("source").agg(
                F.count(F.lit(1)).alias("n"),
                F.min("doc_id").alias("doc_id")).collect()}
    fanned = {(r["doc_id"], r["n"]) for r in
              fan_out(d).groupBy("source").agg(
                  F.count(F.lit(1)).alias("n"),
                  F.min("doc_id").alias("doc_id")).collect()}
    assert base == fanned
