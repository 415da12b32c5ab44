"""Session factory helpers: the CPU and driver-heap defaults and the
persistent-RDD registry span helpers."""

from __future__ import annotations

import os

import pytest

from big_data_elt_pipeline_spark.session import (
    default_cpus,
    default_driver_memory,
    pinned_rdds,
    unpersist_rdds,
)

GIB = 2**30


@pytest.mark.parametrize("phys, heap", [
    (15 * GIB + 600 * 2**20, "7g"),  # half, rounded down to whole GB
    (64 * GIB, "32g"),
    (256 * GIB, "48g"),              # capped
    (GIB, "1g"),                     # never below 1g
])
def test_default_driver_memory(phys, heap):
    assert default_driver_memory(phys) == heap


def test_default_cpus_is_the_affinity_count(spark, monkeypatch):
    assert spark.sparkContext.defaultParallelism == int(default_cpus())
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cpus() == str(len(os.sched_getaffinity(0)))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == "3"


def test_unpersist_frees_only_the_span(spark):
    start = pinned_rdds(spark)
    kept = spark.range(3).localCheckpoint(eager=True)
    before = pinned_rdds(spark)
    spark.range(4).localCheckpoint(eager=True)
    spark.range(5).localCheckpoint(eager=True)
    span = pinned_rdds(spark) - before
    assert len(span) == 2
    unpersist_rdds(spark, span)
    assert pinned_rdds(spark) == before
    assert kept.count() == 3
    unpersist_rdds(spark, before - start)
