"""Cluster build / write / indexed range query.

A "cluster" in the reference is a directory of alphabetically contiguous,
sorted, blocked-gzip shards plus a block index (cdx/notes.txt:1-36). Here a
cluster is a Parquet table that is RANGE-PARTITIONED and SORTED WITHIN
PARTITIONS on (urlkey, timestamp):

- ``build_cluster`` = jobs/BuildCluster.java:71-209 (AlphaPartitioner +
  shuffle sort + identity reduce) -> ``repartitionByRange().
  sortWithinPartitions()``. Sampling-based boundaries match
  ZipNumPartitioner's sampling mode; explicit boundaries go through
  plans/partitioning.py.
- ``write_cluster`` -> sorted Parquet; every row group then carries tight
  (urlkey, timestamp) min/max stats, which IS the reference's ALL.summary:
  a query's binary search over the summary becomes Parquet row-group pruning.
- ``cluster_range`` = cdx/CDXClusterRangeDumper + CDXCluster.java:31-43 +
  ClusterRange.java:49-66 — the bounded range scan [start, end). On the sorted
  table the filter prunes to the covering row groups only; `.explain` shows the
  pushed filters.

At 100 TB: the sort is one total shuffle (unavoidable to establish the global
invariant — the reference pays the same shuffle in its reduce). AQE coalesces
small ranges; hot-key skew is handled by sampled range boundaries.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def build_cluster(
    df: DataFrame,
    num_ranges: int | None = None,
    sort_cols: Sequence[str] = ("urlkey", "timestamp"),
) -> DataFrame:
    """Establish the cluster invariant: range-partitioned + sorted partitions.

    ``num_ranges`` defaults to ``spark.sql.shuffle.partitions``. Boundaries are
    picked by Spark's reservoir sampling of the sort key (the same idea as
    ZipNumPartitioner.getSplitIterator sampling an existing cluster's summary).
    """
    return range_partition(df, num_ranges, sort_cols).sortWithinPartitions(*sort_cols)


def range_partition(
    df: DataFrame, num_ranges: int | None, cols: Sequence[str]
) -> DataFrame:
    """``repartitionByRange`` on ``cols`` into ``num_ranges`` ranges
    (``spark.sql.shuffle.partitions`` when None)."""
    rcols = [F.col(c) for c in cols]
    if num_ranges:
        return df.repartitionByRange(num_ranges, *rcols)
    return df.repartitionByRange(*rcols)


def write_cluster(
    df: DataFrame,
    path: str,
    num_ranges: int | None = None,
    sort_cols: Sequence[str] = ("urlkey", "timestamp"),
    max_records_per_file: int | None = None,
) -> None:
    """Write a cluster as sorted Parquet (one contiguous key range per file).

    ``maxRecordsPerFile`` caps shard size the way ZipNum capped envelope line
    count; row-group stats replace the idx sidecar.
    """
    out = build_cluster(df, num_ranges, sort_cols)
    writer = out.write.mode("overwrite")
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.parquet(path)


def cluster_range(
    source: DataFrame | str,
    start: str | None,
    end: str | None,
    key_col: str = "urlkey",
    spark: SparkSession | None = None,
    sorted_output: bool = True,
    ts_col: str = "timestamp",
) -> DataFrame:
    """Bounded range scan: rows with ``start <= key < end`` (either bound open).

    On a sorted cluster this reads only the covering row groups (min/max
    pruning == the reference's summary binary search). Start is inclusive and
    end exclusive, matching ClusterRange's StartBounded/Bounded iterators.

    ``sorted_output`` sorts by (key, ``ts_col``) — the cluster's full sort
    order, matching the reference range dump's line order; key alone would
    leave same-key rows in nondeterministic timestamp order (Spark's
    shuffle sort is not stable).
    """
    if isinstance(source, str):
        if spark is None:
            spark = SparkSession.getActiveSession()
        if spark is None:
            raise ValueError(
                "cluster_range(path, ...) needs an active SparkSession — "
                "pass spark= explicitly"
            )
        df = spark.read.parquet(source)
    else:
        df = source
    c = F.col(key_col)
    if start is not None:
        df = df.filter(c >= start)
    if end is not None:
        df = df.filter(c < end)
    if not sorted_output:
        return df
    order = [key_col] + ([ts_col] if ts_col in df.columns else [])
    return df.sort(*order)
