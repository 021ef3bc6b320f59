"""Optimizer statistics for build-time plan decisions, and their log.

The only reader of Catalyst's size estimates. A decider calls
:func:`plan_stats`, sums the optimized plan's leaves by its own rule and
compares the sum with a multiple of ``maxPartitionBytes``. Reading leaf
``stats()`` runs no job, where asking ``df.rdd`` for its partition count
executes every upstream AQE stage (1.6 s and a full join job at plan-build
time on the novel_docs batch). The root's estimate is not used: joins
without CBO inflate it (36 GB reported for a 0.6 MB broadcast join). A leaf
without statistics (RDD-backed) reports Long.MaxValue.

When the JVM plan cannot be read (no ``_jdf`` under Spark Connect, a py4j
failure) :func:`plan_stats` returns ``None`` and warns once per process.
Each decider logs one INFO record per call on ``ia_hadoop_tools_spark.
decisions`` with ``decision``, ``branch`` and ``inputs`` attributes.
"""

from __future__ import annotations

import logging
from typing import NamedTuple

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame

logger = logging.getLogger(__name__)
decision_logger = logging.getLogger("ia_hadoop_tools_spark.decisions")
_warned = False


class PlanStats(NamedTuple):
    leaves: tuple[tuple[str, int], ...]  # (node name, sizeInBytes)
    max_partition_bytes: int


def _optimized_plan(df: DataFrame):
    return df._jdf.queryExecution().optimizedPlan()


def plan_stats(df: DataFrame) -> PlanStats | None:
    global _warned
    try:
        leaves = _optimized_plan(df).collectLeaves()
        pairs = tuple(
            (leaf.nodeName(), int(str(leaf.stats().sizeInBytes())))
            for leaf in (leaves.apply(i) for i in range(leaves.size()))
        )
    except (AttributeError, Py4JError) as exc:
        if not _warned:
            _warned = True
            logger.warning(
                "optimizer statistics unavailable (%r); plan decisions "
                "take their size-independent branch",
                exc,
            )
        return None
    return PlanStats(pairs, max_partition_bytes(df))


def max_partition_bytes(df: DataFrame) -> int:
    raw = df.sparkSession.conf.get(
        "spark.sql.files.maxPartitionBytes", "134217728"
    )
    try:
        return int(raw)
    except ValueError:
        jvm = df.sparkSession.sparkContext._jvm
        return int(jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw))


def log_decision(decision: str, branch: str, **inputs) -> None:
    decision_logger.info(
        "%s: %s %s", decision, branch, inputs,
        extra={"decision": decision, "branch": branch, "inputs": inputs},
    )
