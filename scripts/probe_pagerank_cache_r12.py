#!/usr/bin/env python
"""Round-12 probe (VERDICT r11 #4): pagerank cache_edges crossover.

Runs the registry pagerank graph (lineitem part<->supplier, symmetric,
5 supersteps) with cache_edges forced True vs False at the given SF
dirs, interleaved, ranks asserted identical; also reports the edge
plan's summed leaf estimate vs the auto-decision budget so the shipped
threshold can be justified against the measured crossover.

Usage: python scripts/probe_pagerank_cache_r12.py sf_dir [sf_dir ...]
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    dirs = sys.argv[1:] or ["/tmp/iht_sf1", "/tmp/iht_sf10"]
    from pyspark.sql import functions as F

    from ia_hadoop_tools_spark.analytics_queries import (
        PR_ITERATIONS,
        PR_SUPPLIER_OFFSET,
    )
    from ia_hadoop_tools_spark.operators.graph import (
        _edges_exceed_lazy_budget,
        pagerank,
        symmetric_edges,
    )
    from ia_hadoop_tools_spark.plans.stats import plan_stats
    from ia_hadoop_tools_spark.session import get_spark, load_tables

    spark = get_spark("r12-pagerank-cache-probe")
    spark.sparkContext.setLogLevel("ERROR")

    def edges_of(sf_dir):
        li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
        pairs = li.select(
            F.col("l_partkey").alias("src"),
            (F.col("l_suppkey") + PR_SUPPLIER_OFFSET).alias("dst"),
        ).distinct()
        return symmetric_edges(pairs, "src", "dst")

    for sf_dir in dirs:
        e = edges_of(sf_dir)
        total = sum(size for _, size in plan_stats(e).leaves)
        auto_caches = _edges_exceed_lazy_budget(e)
        print(
            f"{sf_dir}: leaf bytes {total:,} auto_cache_edges={auto_caches}"
        )
        base = None
        res = {}
        for i in range(3):
            for cache in (False, True) if i % 2 == 0 else (True, False):
                spark.catalog.clearCache()
                t0 = time.time()
                r = pagerank(
                    edges_of(sf_dir),
                    iterations=PR_ITERATIONS,
                    all_nodes_have_inedges=True,
                    cache_edges=cache,
                )
                rows = sorted(
                    (x["node"], x["rank"]) for x in r.collect()
                )
                dt = time.time() - t0
                for c in r.pr_caches:
                    c.unpersist()
                if base is None:
                    base = rows
                assert rows == base, "ranks differ between shapes!"
                res.setdefault(cache, []).append(dt)
        for cache, xs in sorted(res.items()):
            s = sorted(xs)
            print(
                f"  cache_edges={cache}: med {s[len(s)//2]:.2f}s "
                f"min {s[0]:.2f}s {[round(x, 2) for x in xs]}"
            )
    spark.stop()


if __name__ == "__main__":
    main()
