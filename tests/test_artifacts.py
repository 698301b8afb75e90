"""The build-once artifact store (artifacts.py): one build per key under
concurrent callers, failure cleanup, the valid()/rebuild path, reset,
and the catalog entries that serve from it."""

import os
import sys
import threading
import time

import pytest
from pyspark.sql import functions as F

from python_etl_rest_api_spark import artifacts
from python_etl_rest_api_spark.registry import QUERIES

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture
def kind(request):
    name = f"test_{request.node.name}"
    yield name
    artifacts.reset(name, SF_DIR)


def test_concurrent_callers_build_once(kind):
    """Eight callers race on one key: one build, one value."""
    n = 8
    calls = []
    gate = threading.Barrier(n)
    results = [None] * n

    def build(path):
        calls.append(path)
        time.sleep(0.05)  # hold the race window open
        return object()

    def caller(i):
        gate.wait()
        results[i] = artifacts.build_once(kind, SF_DIR, build)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=caller, args=(i,))
                   for i in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(30)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(calls) == 1
    assert all(r is results[0] for r in results)
    assert artifacts.build_seconds(kind, SF_DIR) >= 0.05


def test_slow_build_does_not_block_another_key(kind):
    started, release = threading.Event(), threading.Event()

    def slow(path):
        started.set()
        release.wait(30)
        return "slow"

    t = threading.Thread(
        target=artifacts.build_once, args=(kind, SF_DIR, slow))
    t.start()
    try:
        assert started.wait(30)
        other = kind + "_other"
        assert artifacts.build_once(other, SF_DIR, lambda p: "fast") == "fast"
        artifacts.reset(other, SF_DIR)
    finally:
        release.set()
        t.join(30)
    assert not t.is_alive()


def test_failed_build_leaves_nothing_and_next_call_rebuilds(kind):
    seen, dropped = [], []

    def bad(path):
        seen.append(path)
        open(os.path.join(path, "partial"), "w").close()
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        artifacts.build_once(kind, SF_DIR, bad, drop=dropped.append)
    assert dropped == seen
    assert not os.path.exists(seen[0])
    assert artifacts.build_seconds(kind, SF_DIR) is None

    good = artifacts.build_once(kind, SF_DIR, lambda path: path)
    assert good != seen[0] and os.path.isdir(good)


def test_invalid_artifact_is_dropped_and_rebuilt(kind):
    dropped = []
    first = artifacts.build_once(kind, SF_DIR, lambda path: path,
                                 drop=dropped.append)
    again = artifacts.build_once(kind, SF_DIR, lambda path: "unused",
                                 valid=lambda path: True)
    assert again == first and dropped == []

    second = artifacts.build_once(kind, SF_DIR, lambda path: path,
                                  valid=lambda path: False,
                                  drop=dropped.append)
    assert dropped == [first]
    assert not os.path.exists(first)
    assert second != first and os.path.isdir(second)


def test_reset_removes_the_directory(kind):
    path = artifacts.build_once(kind, SF_DIR, lambda path: path)
    assert os.path.isdir(path)
    artifacts.reset(kind, SF_DIR)
    assert not os.path.exists(path)
    assert artifacts.build_seconds(kind, SF_DIR) is None
    artifacts.reset(kind, SF_DIR)  # idempotent


def test_every_kind_is_built_by_its_serving_entry(spark):
    """bench.py times each kind through KINDS' entry: the entry must
    really build that kind."""
    for kind, entry in artifacts.KINDS.items():
        artifacts.reset(kind, SF_DIR)
        QUERIES[entry](spark, SF_DIR).collect()
        assert artifacts.build_seconds(kind, SF_DIR) is not None, kind


def _location(spark, table):
    row = (spark.sql(f"DESCRIBE TABLE EXTENDED {table}")
           .filter(F.col("col_name") == "Location").first())
    return os.path.dirname(row.data_type.removeprefix("file:"))


def test_bucketed_join_survives_a_dropped_table(spark):
    from python_etl_rest_api_spark.catalog_warehouse import (
        ensure_bucketed_layout)

    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    c = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    want = sorted(
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("o_custkey").alias("custkey"), "c_name")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
             .cast("double").alias("total_spend"))
        .collect())

    old = ensure_bucketed_layout(spark, SF_DIR)
    old_dir = _location(spark, old[0])
    spark.sql(f"DROP TABLE {old[0]}")

    got = sorted(QUERIES["layout_bucketed_join"](spark, SF_DIR).collect())
    assert got == want
    new = ensure_bucketed_layout(spark, SF_DIR)
    assert set(new).isdisjoint(old)
    assert not spark.catalog.tableExists(old[1])
    assert not os.path.exists(old_dir)
