"""Incremental k-way cluster merge.

Reference: jobs/MergeClusters.java:68-155, MergeClusterRangesJob.java:71-130,
mapreduce/SortMergeInputFormat.java:235-312 — N pre-sorted clusters are heap-
merged into a new cluster, with optional filtering, exact dedup, and day-limit
capping applied during the merge.

Spark has no "scan preserves order across files" contract, so the merge
re-sorts (SURVEY.md §7.4: accept the re-sort; the shuffle is the same one the
reference's reduce phase pays). Operator order:

``unionByName`` -> filters -> range-partition on the key alone -> dedup ->
day-limit -> sort within partitions on ``sort_cols``.

One shuffle in all: a range partitioning on the key already places every
(whole row) duplicate and every (key, day) group in one partition, so dedup
and the day-limit window plan no exchange of their own. Without dedup and
day-limit the merge is :func:`~.cluster.build_cluster` (range on all of
``sort_cols``). Catalyst pushes the filters below the union into each source
scan — filter-during-merge comes free.

Layout: with dedup or a day limit, a key never straddles two files of the
merged cluster. The price is skew: the largest partition holds at least the
hottest key's rows (after dedup and the day limit), however many ranges are
asked for.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame

from ia_hadoop_tools_spark.operators.cluster import build_cluster, range_partition
from ia_hadoop_tools_spark.operators.daylimit import day_limit
from ia_hadoop_tools_spark.operators.dedup import dedup_exact


def merge_clusters(
    clusters: Sequence[DataFrame],
    filters: Sequence[Callable[[DataFrame], DataFrame]] = (),
    dedup: bool = False,
    daily_limit: int | None = None,
    num_ranges: int | None = None,
    sort_cols: Sequence[str] = ("urlkey", "timestamp"),
    tiebreakers: Sequence[str] = (),
) -> DataFrame:
    """Merge N sorted clusters into one, re-establishing the cluster invariant.

    ``filters`` are df->df transforms applied to the unioned stream (pushed
    down per-source by Catalyst); ``dedup`` drops exact duplicates;
    ``daily_limit`` applies the per-(key, day) cap during the merge, exactly
    as MergeClusters' global-CDX mode chains GlobalWaybackMergeMapper.
    """
    if not clusters:
        raise ValueError("need at least one cluster")
    if daily_limit and len(sort_cols) < 2:
        raise ValueError(
            "daily_limit needs sort_cols = (key, timestamp, ...); got "
            f"{tuple(sort_cols)!r}"
        )
    merged = clusters[0]
    for c in clusters[1:]:
        merged = merged.unionByName(c)
    for f in filters:
        merged = merged.transform(f)
    # `daily_limit` truthiness (not `is not None`): the reference's
    # cdx.daily.limit=0 means UNLIMITED (GlobalWaybackMergeMapper gates
    # the whole block with `if (dayLimit != 0)`) — treating 0 as "keep
    # zero rows" would silently empty a ported job's output
    if not (dedup or daily_limit):
        return build_cluster(merged, num_ranges, sort_cols)
    merged = range_partition(merged, num_ranges, sort_cols[:1])
    if dedup:
        merged = dedup_exact(merged)
    if daily_limit:
        merged = day_limit(
            merged,
            n=daily_limit,
            key_col=sort_cols[0],
            ts_col=sort_cols[1],
            tiebreakers=tiebreakers,
        )
    return merged.sortWithinPartitions(*sort_cols)
