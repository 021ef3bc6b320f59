"""The Wayback index pipeline as the CDX workloads drive it, and the
independent DuckDB/pyarrow checks on its outputs."""

from __future__ import annotations

import bisect
import itertools
import os
import statistics

import cdxgen
from cdxgen import COLUMNS

#: captures kept per (urlkey, day)
DAY_LIMIT = 5
#: key ranges (files / ZipNum shards) per cluster; fixed so the layout does
#: not depend on the core count
NUM_RANGES = 4

#: day_limit's default tie order: timestamp, then every other column by name
_TIE_ORDER = ", ".join(
    ["timestamp"] + [f"{c} NULLS FIRST" for c in sorted(COLUMNS) if c not in ("urlkey", "timestamp")]
)


def index_df(spark, text_path: str):
    """read -> parse -> cdx_filter -> global_wayback_filter -> day_limit."""
    from ia_hadoop_tools_spark.operators.daylimit import day_limit
    from ia_hadoop_tools_spark.operators.filters import cdx_filter, global_wayback_filter
    from ia_hadoop_tools_spark.operators.parse import parse_cdx, read_cdx_text

    parsed = parse_cdx(read_cdx_text(spark, text_path))
    return day_limit(global_wayback_filter(cdx_filter(parsed)), n=DAY_LIMIT)


def write_index(ctx, text_path: str, cluster_dir: str) -> None:
    from ia_hadoop_tools_spark.operators.cluster import write_cluster

    with ctx.tracer.span("cluster.write_cluster"):
        write_cluster(index_df(ctx.spark, text_path), cluster_dir, num_ranges=NUM_RANGES)


def export_zipnum(ctx, cluster_dir: str, zip_dir: str) -> None:
    from ia_hadoop_tools_spark.operators.parse import cdx_to_text
    from ia_hadoop_tools_spark.sources.zipnum import write_zipnum

    with ctx.tracer.span("zipnum.write_zipnum"):
        idx = write_zipnum(cdx_to_text(ctx.spark.read.parquet(cluster_dir)), zip_dir,
                           num_shards=NUM_RANGES)
        idx.unpersist()


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _s, fs in os.walk(path)
        for f in fs
        if not f.startswith((".", "_"))
    )


def parquet_files(cluster_dir: str) -> list[str]:
    return sorted(
        os.path.join(cluster_dir, f)
        for f in os.listdir(cluster_dir)
        if f.endswith(".parquet")
    )


def cluster_layout(cluster_dir: str) -> tuple[int, int]:
    """(files, row groups) of a parquet cluster."""
    import pyarrow.parquet as pq

    files = parquet_files(cluster_dir)
    return len(files), sum(pq.ParquetFile(f).num_row_groups for f in files)


def cluster_sorted_disjoint(cluster_dir: str) -> bool:
    """Every file sorted on (urlkey, timestamp) and the files' key ranges
    disjoint."""
    import pyarrow.parquet as pq

    ranges = []
    for f in parquet_files(cluster_dir):
        t = pq.read_table(f, columns=["urlkey", "timestamp"])
        keys = list(zip(t.column("urlkey").to_pylist(), t.column("timestamp").to_pylist()))
        if not keys:
            continue
        if any(a > b for a, b in zip(keys, keys[1:])):
            return False
        ranges.append((keys[0], keys[-1]))
    ranges.sort()
    return all(a[1] < b[0] for a, b in zip(ranges, ranges[1:]))


# -- DuckDB reference over the generator's parsed rows ---------------------

def duck(tables: dict):
    """A DuckDB connection with each pyarrow table registered by name."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for name, t in tables.items():
        con.register(name, t)
    return con


def filtered_sql(raw: str) -> str:
    """The rows cdx_filter + global_wayback_filter keep, digest truncated."""
    cols = ", ".join(c if c != "digest" else "substr(digest, 1, 3) AS digest" for c in COLUMNS)
    return f"""
        SELECT {cols} FROM {raw}
        WHERE NOT (starts_with(urlkey, ' CDX') OR starts_with(urlkey, 'dns:')
                   OR starts_with(urlkey, 'filedesc:') OR starts_with(urlkey, 'warcinfo:'))
          AND NOT coalesce(contains(meta_flags, 'A'), false)
          AND (statuscode IS NOT NULL OR contains(mimetype, 'warc/'))
          AND compressed_offset IS NOT NULL
          AND NOT (coalesce(statuscode IN (502, 504), false)
                   AND NOT coalesce(contains(mimetype, 'warc/'), false)
                   AND coalesce(starts_with(filename, 'live-20'), false)
                   AND coalesce(ends_with(filename, '.arc.gz'), false))"""


def _day_limited(src: str) -> str:
    return f"""
        SELECT {", ".join(COLUMNS)} FROM (
          SELECT *, row_number() OVER (PARTITION BY urlkey, substr(timestamp, 1, 8)
                                       ORDER BY {_TIE_ORDER}) AS rn
          FROM ({src}))
        WHERE rn <= {DAY_LIMIT}"""


def indexed_sql(raw: str) -> str:
    """The rows cdx_filter + global_wayback_filter + day_limit keep."""
    return _day_limited(filtered_sql(raw))


def merged_count_sql(base: str, inc: str) -> str:
    """Rows merge_clusters([base, inc], dedup=True, daily_limit=n) keeps."""
    union = f"SELECT DISTINCT * FROM ({indexed_sql(base)} UNION ALL {indexed_sql(inc)})"
    return f"SELECT count(*) FROM ({_day_limited(union)})"


def max_per_day_sql(cluster_dir: str) -> str:
    """Largest capture count of any (urlkey, day) in a parquet cluster."""
    return f"""
        SELECT coalesce(max(c), 0) FROM (
          SELECT count(*) AS c FROM read_parquet('{cluster_dir}/*.parquet')
          GROUP BY urlkey, substr(timestamp, 1, 8))"""


def render_sql(src: str) -> str:
    """cdx_to_text's 11-field line for each row of ``src``."""
    parts = ", ".join(f"coalesce(CAST({c} AS VARCHAR), '-')" for c in COLUMNS)
    return f"SELECT concat_ws(' ', {parts}) AS line FROM ({src})"


def build_fixture(ctx, text_path: str, cluster_dir: str, zip_dir: str) -> None:
    """The serving/query fixture: the parquet cluster and its ZipNum copy."""
    write_index(ctx, text_path, cluster_dir)
    export_zipnum(ctx, cluster_dir, zip_dir)


def key_catalog(con, raw: str) -> list[tuple[str, str, int]]:
    """(urlkey, original_url, captures) of every indexed key, key-sorted."""
    return con.execute(f"""
        SELECT urlkey, min(original_url), count(*) FROM ({indexed_sql(raw)})
        GROUP BY urlkey ORDER BY urlkey""").fetchall()


class KeyPicker:
    """Seeded request keys: alternately Zipf-hot (weighted by capture count)
    and uniform over the indexed keys."""

    def __init__(self, rng, catalog):
        self.rng = rng
        self.catalog = catalog
        self.cum = list(itertools.accumulate(c for _k, _u, c in catalog))
        self.n = 0

    def pick(self) -> int:
        """Index into the catalog."""
        self.n += 1
        if self.n % 2:
            return bisect.bisect_left(self.cum, self.rng.random() * self.cum[-1])
        return self.rng.randrange(len(self.catalog))

    def ts14(self) -> str:
        """A capture-range timestamp for closest lookups."""
        return cdxgen.ts14(self.rng)


def layout_metrics(ctx, raw_bytes: int, cluster_dir: str, zip_dir: str,
                   parent: str) -> dict[str, tuple[float, str]]:
    """Index writer times and on-disk layout — per-layer metrics every CDX
    workload has. Writer times are medians over the spans under ``parent``."""
    from ia_hadoop_tools_spark.sources.zipnum import read_summary_rows

    files, row_groups = cluster_layout(cluster_dir)
    return {
        "cluster.write_cluster_s": (
            statistics.median(ctx.durations("cluster.write_cluster", parent)), "s"),
        "zipnum.write_zipnum_s": (
            statistics.median(ctx.durations("zipnum.write_zipnum", parent)), "s"),
        "cluster.files": (files, "count"),
        "cluster.row_groups": (row_groups, "count"),
        "zipnum.blocks": (len(read_summary_rows(zip_dir)), "count"),
        "cluster_bytes_ratio": (dir_bytes(cluster_dir) / raw_bytes, "ratio"),
        "zipnum_bytes_ratio": (dir_bytes(zip_dir) / raw_bytes, "ratio"),
    }
