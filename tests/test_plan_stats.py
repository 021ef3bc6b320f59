"""plans/stats.py: the one reader of optimizer statistics, the fallbacks of
the three deciders built on it, and the decision log.

Each fallback case makes the reader's JVM access raise ``Py4JError`` and
checks the branch that is safe at any size, one warning and one decision
record; the spread case also checks that no Spark job runs at plan-build
time.
"""

from __future__ import annotations

import logging
import pathlib

import pytest
from py4j.protocol import Py4JError
from pyspark.sql import functions as F

from ia_hadoop_tools_spark.operators import graph
from ia_hadoop_tools_spark.operators.graph import pagerank
from ia_hadoop_tools_spark.operators.textops import ensure_min_partitions
from ia_hadoop_tools_spark.plans import bloom, stats
from ia_hadoop_tools_spark.plans.bloom import bloom_build
from ia_hadoop_tools_spark.plans.stats import max_partition_bytes

PACKAGE = pathlib.Path(stats.__file__).resolve().parents[1]


@pytest.fixture()
def log(caplog):
    """caplog with the once-per-process warning re-armed and the
    decision logger at INFO."""
    stats._warned = False
    caplog.clear()
    with caplog.at_level(logging.INFO, logger=stats.decision_logger.name):
        yield caplog


def _unreadable(df):
    raise Py4JError("plan unavailable")


@pytest.fixture()
def no_stats(monkeypatch):
    monkeypatch.setattr(stats, "_optimized_plan", _unreadable)


def _warnings(caplog):
    return [
        r for r in caplog.records
        if r.name == stats.logger.name and r.levelno == logging.WARNING
    ]


def _decision(caplog):
    [rec] = [r for r in caplog.records if hasattr(r, "decision")]
    assert rec.levelno == logging.INFO
    return rec


def _join_group_frame(spark):
    """A small join + groupBy: forcing its partitioning through ``.rdd``
    would run the broadcast and shuffle stages."""
    facts = spark.range(200).select(
        F.col("id"), (F.col("id") % 10).alias("k")
    )
    dims = spark.range(10).select(F.col("id").alias("k"), F.col("id").alias("v"))
    return facts.join(dims, "k").groupBy("k").agg(F.sum("v").alias("s"))


def _edges(spark):
    return spark.range(20).select(
        F.col("id").alias("src"), ((F.col("id") + 1) % 20).alias("dst")
    )


def test_ensure_min_partitions_without_stats_keeps_frame_and_runs_no_job(
    spark, log, no_stats
):
    df = _join_group_frame(spark)
    sc = spark.sparkContext
    group = "plan-stats-fallback-probe"
    sc.setJobGroup(group, "no jobs may appear here")
    try:
        out = ensure_min_partitions(df, 4)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setJobGroup("", "")
    assert list(jobs or []) == []
    assert out is df
    assert len(_warnings(log)) == 1
    rec = _decision(log)
    assert (rec.decision, rec.branch) == ("ensure_min_partitions", "keep")
    assert rec.inputs == {"leaf_bytes": None, "threshold": None}


def test_bloom_build_without_stats_returns_the_same_mask(
    spark, log, monkeypatch
):
    df = spark.range(300).select((F.col("id") * 7).alias("k"))
    expected = bloom_build(df, "k", num_bits=1 << 12)  # one-level branch
    monkeypatch.setattr(stats, "_optimized_plan", _unreadable)
    monkeypatch.setattr(bloom, "MASK_REDUCE_PARTITIONS", 2)  # fewer tasks
    log.clear()
    assert bloom_build(df, "k", num_bits=1 << 12) == expected
    assert len(_warnings(log)) == 1
    rec = _decision(log)
    assert (rec.decision, rec.branch) == ("bloom_mask_reduce", "reduce")
    assert rec.inputs == {"leaf_bytes": None, "threshold": None}


def test_pagerank_without_stats_caches_edges(spark, log, no_stats):
    ranks = pagerank(_edges(spark), iterations=2)
    try:
        plan = ranks._jdf.queryExecution().optimizedPlan().toString()
        assert "InMemoryRelation" in plan
    finally:
        for c in ranks.pr_caches:
            c.unpersist()
    assert len(_warnings(log)) == 1
    rec = _decision(log)
    assert (rec.decision, rec.branch) == ("pagerank_cache_edges", "cache")
    assert rec.inputs == {"leaf_bytes": None, "threshold": None}


def test_ensure_min_partitions_decision_record(spark, log):
    df = spark.range(100)
    out = ensure_min_partitions(df, 4)
    assert out is not df
    rec = _decision(log)
    assert (rec.decision, rec.branch) == ("ensure_min_partitions", "spread")
    assert rec.inputs == {
        "leaf_bytes": 800,  # Range: 100 rows x 8 bytes
        "threshold": 4 * max_partition_bytes(df),
    }
    assert _warnings(log) == []


def test_bloom_mask_reduce_decision_record(spark, log):
    df = spark.range(100)
    assert not bloom._needs_mask_reduce(df)
    rec = _decision(log)
    assert (rec.decision, rec.branch) == ("bloom_mask_reduce", "direct")
    assert rec.inputs == {
        "leaf_bytes": 800,
        "threshold": bloom.MASK_REDUCE_PARTITIONS * max_partition_bytes(df),
    }


def test_pagerank_cache_decision_record(spark, log):
    edges = _edges(spark)
    assert pagerank(edges, iterations=2).pr_caches == ()
    rec = _decision(log)
    assert (rec.decision, rec.branch) == ("pagerank_cache_edges", "lazy")
    assert rec.inputs == {
        "leaf_bytes": 160,
        "threshold": graph.PR_CACHE_LEAF_SPLITS * max_partition_bytes(edges),
    }


def test_plan_statistics_are_read_in_one_module():
    """A fourth hand-rolled decider, or a probe that runs hidden jobs,
    must not come back: only plans/stats.py reads plan statistics, and
    nothing asks an RDD for its partition count."""
    readers, probes = set(), set()
    for path in PACKAGE.rglob("*.py"):
        src = path.read_text()
        rel = path.relative_to(PACKAGE).as_posix()
        if any(
            s in src for s in ("collectLeaves", "optimizedPlan()", "sizeInBytes")
        ):
            readers.add(rel)
        if "getNumPartitions" in src:
            probes.add(rel)
    assert readers == {"plans/stats.py"}
    assert probes == set()
