"""catalog's parquet footer memo: the inferred schema and the row-group
count are reused only while the file and the inference confs are the
same, and every load is still a fresh relation."""

from __future__ import annotations

import datetime as dt
import itertools
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from etl_scripts_spark import catalog

NTZ = "spark.sql.parquet.inferTimestampNTZ.enabled"
_groups = itertools.count()


def _jobs_of(spark, fn):
    """Spark job ids started while `fn` runs (tagged by a job group)."""
    sc = spark.sparkContext
    group = f"catalog-test-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_rewritten_file_returns_the_new_schema(spark, tmp_path):
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert catalog.load(spark, str(tmp_path), "region").columns == ["a"]
    pq.write_table(pa.table({"b": ["x"], "c": [1.5]}), path)
    df = catalog.load(spark, str(tmp_path), "region")
    assert df.columns == ["b", "c"]
    assert [tuple(r) for r in df.collect()] == [("x", 1.5)]


def test_inference_conf_flip_infers_again(spark, tmp_path):
    ts = pa.array([dt.datetime(2024, 1, 1)], pa.timestamp("us"))  # no tz
    pq.write_table(pa.table({"ts": ts}), tmp_path / "region.parquet")
    old = spark.conf.get(NTZ)
    try:
        spark.conf.set(NTZ, "true")
        assert catalog.load(spark, str(tmp_path), "region").dtypes == [("ts", "timestamp_ntz")]
        spark.conf.set(NTZ, "false")
        assert catalog.load(spark, str(tmp_path), "region").dtypes == [("ts", "timestamp")]
    finally:
        spark.conf.set(NTZ, old)


def test_memo_hit_runs_no_spark_job(spark, tmp_path):
    pq.write_table(pa.table({"a": [1, 2, 3]}), tmp_path / "nation.parquet")
    load = lambda: catalog.load(spark, str(tmp_path), "nation")  # noqa: E731
    assert _jobs_of(spark, load), "a memo miss infers the schema with a Spark job"
    assert _jobs_of(spark, load) == []


def test_two_loads_are_distinct_relations(spark, tmp_path):
    pq.write_table(pa.table({"k": [1, 2], "v": [10, 20]}), tmp_path / "nation.parquet")
    a = catalog.load(spark, str(tmp_path), "nation")
    b = catalog.load(spark, str(tmp_path), "nation")
    ids = [
        df._jdf.queryExecution().analyzed().output().apply(0).exprId().id() for df in (a, b)
    ]
    assert ids[0] != ids[1]
    joined = a.join(b, a["k"] == b["k"] + 1).select(a["v"], b["v"].alias("w"))
    assert [tuple(r) for r in joined.collect()] == [(20, 10)]


def test_load_parallel_counts_row_groups_not_byte_splits(spark, tmp_path):
    """One row group, many byte-range splits: only one split holds rows,
    so the table must still be repartitioned to the task slots."""
    n = 20_000
    pq.write_table(
        pa.table({"k": list(range(n)), "s": [f"row-{i:08d}" for i in range(n)]}),
        tmp_path / "lineitem.parquet",
        row_group_size=n,
    )
    assert os.path.getsize(tmp_path / "lineitem.parquet") > 64 * 1024
    target = spark.sparkContext.defaultParallelism
    if target < 2:
        pytest.skip("needs more than one task slot")
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "16k")
    try:
        scan = catalog.load(spark, str(tmp_path), "lineitem")
        assert scan.rdd.getNumPartitions() >= target  # byte splits, mostly empty
        df = catalog.load_parallel(spark, str(tmp_path), "lineitem")
        assert df.rdd.getNumPartitions() == target
        assert df.count() == n
    finally:
        spark.conf.set(key, old)
