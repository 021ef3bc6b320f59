"""Per-url-per-day capture capping ("day limit").

Reference: mapreduce/GlobalWaybackMergeMapper.java:20-83,136 and
GlobalWaybackCDXReducer.java:19-79 — keep at most N captures per
(urlkey, day) where day = substr(timestamp, 1, 8); default N=111
(``cdx.daily.limit``).

The reference counts sequentially over the sorted stream, so ties break by
arrival order — nondeterministic under re-partitioning. We declare the
canonical order to be (timestamp, *tiebreakers): deterministic, oracle-friendly
(SURVEY.md §7.4 hard part #3).

Spark: a ranking window — ``row_number() OVER (PARTITION BY key, day ORDER BY
ts, ...) <= n``. One shuffle on (key, day). Catalyst plans the rank filter
as a partial ``WindowGroupLimit`` before the exchange, so each map task ships
at most n rows per (key, day): a hot url moves n x map tasks rows, not all
its captures. AQE does not split that shuffle (skew splitting applies to
joins and rebalance, not window inputs; the executed plan reads it
``coalesced``), so that partial limit is what bounds it.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_DAY_LIMIT = 111  # cdx.daily.limit, GlobalWaybackMergeMapper.java:24


def day_limit(
    df: DataFrame,
    n: int = DEFAULT_DAY_LIMIT,
    key_col: str = "urlkey",
    ts_col: str = "timestamp",
    day_expr=None,
    tiebreakers: Sequence[str] = (),
    arrival_col: str | None = None,
) -> DataFrame:
    """Keep at most ``n`` captures per (key, day).

    ``day_expr`` defaults to ``substring(ts_col, 1, 8)`` (the 14-digit CDX
    timestamp's yyyyMMdd prefix); pass e.g. ``F.to_date('ts')`` for timestamp
    columns.

    INTENTIONAL NORMALIZATION vs the reference: GlobalWaybackMergeMapper/
    GlobalWaybackCDXReducer check ``lastDayCount > dayLimit`` BEFORE
    incrementing, so at cdx.daily.limit=111 they actually emit 112
    captures per day — an off-by-one this operator does not reproduce
    (``n`` here means exactly n). Callers needing byte-parity with a
    Java-produced index must pass n = dayLimit + 1.

    ``n=0`` means UNLIMITED, matching the reference's cdx.daily.limit=0
    (GlobalWaybackMergeMapper gates the whole block with ``dayLimit !=
    0``) — the rule lives HERE, not in each caller, so a directly ported
    config cannot silently empty the index. Negative n raises.

    Determinism: with the default empty ``tiebreakers`` the order within
    one (key, day, timestamp) tie falls back to every remaining column
    (sorted by name) — same-second capture bursts are common in CDX
    data, and a partial order would let partition layout pick the
    survivors. Pass explicit tiebreakers to pin a narrower order.

    ARRIVAL-ORDER COMPAT MODE (``arrival_col``): the reference counts
    captures in stream (file) order — GlobalWaybackMergeMapper.java:53-83
    keeps the first N rows per (url, day) AS THEY ARRIVE from the merge
    sort, so same-timestamp survivors are chosen by input file position,
    not by any column order. Consumers byte-diffing a legacy index can
    pass an ``arrival_col`` (a column capturing the original stream
    position — e.g. ``monotonically_increasing_id()`` taken right after
    a sorted single-split read, or a (file, offset) rank) and survivor
    selection becomes "first n by arrival" within each (key, day),
    reproducing the reference. OFF by default; the canonical
    (timestamp, tiebreakers) order stays the documented default
    (SURVEY.md §7.4 hard part #3) and the registry oracle is untouched.
    """
    if n < 0:
        raise ValueError(f"day limit must be >= 0 (0 = unlimited), got {n}")
    if arrival_col is not None and tiebreakers:
        # the two orderings are mutually exclusive semantics — silently
        # discarding the tiebreakers would hide which one is in force
        raise ValueError(
            "pass either arrival_col (reference file-order semantics) or "
            "tiebreakers (canonical order), not both"
        )
    if n == 0:
        return df
    if day_expr is None:
        day_expr = F.substring(F.col(ts_col), 1, 8)
    if arrival_col is not None:
        # NOTE: arrival_col must be total (unique) within each (key, day)
        # group — a stream position is by construction; a coarser rank
        # reintroduces the partition-layout nondeterminism this operator
        # exists to exclude
        order = [F.col(arrival_col)]
    else:
        ties = list(tiebreakers) or sorted(
            c for c in df.columns if c not in (key_col, ts_col)
        )
        order = [F.col(ts_col)] + [F.col(c) for c in ties]
    w = Window.partitionBy(F.col(key_col), day_expr).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .drop("__rn")
    )
