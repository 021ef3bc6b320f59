"""cdx_build: the index operator's write path.

Set-up builds the increment's cluster and ZipNum copy (the fixture);
WARMUP_CYCLES unmeasured cycles warm the plans. Each measured cycle runs
three ops over the base batch: ``index`` (parse -> filters -> day limit ->
``write_cluster``), ``zipnum`` (``write_zipnum(cdx_to_text(...))``) and
``merge`` (``merge_clusters([base, increment], dedup=True, daily_limit=n)``
written as the merged cluster). ``p50_ms``/``p90_ms`` are the mean of the
three steps' own percentiles.
"""

from __future__ import annotations

import statistics
import sys
import time

import cdxgen
import cdxpipe
from harness import scaled

N_BASE = 30_000
#: cycles speed up over the first minute while the JIT compiles; a fixed
#: count (not a time) puts the window at the same point of that slope on a
#: slow host as on a fast one
WARMUP_CYCLES = 2
#: a cycle takes about 4 s on 4 cores; each step's percentiles need a few
#: samples to stop following a single slow cycle
MIN_CYCLES = 3


def run(ctx):
    batches = cdxgen.make_batches(ctx.seed, scaled(N_BASE))
    base_txt, inc_txt = ctx.path("base.cdx"), ctx.path("inc.cdx")
    raw_bytes = cdxgen.write_lines(base_txt, batches["base"][0])
    cdxgen.write_lines(inc_txt, batches["increment"][0])
    spark = ctx.start_spark()
    base_dir, zip_dir = ctx.path("cluster"), ctx.path("zipnum")
    inc_dir, merged_dir = ctx.path("inc_cluster"), ctx.path("merged")
    ctx.setup(lambda: cdxpipe.build_fixture(ctx, inc_txt, inc_dir, ctx.path("inc_zipnum")))

    from ia_hadoop_tools_spark.operators.merge import merge_clusters

    def merge(base: str) -> None:
        merged = merge_clusters(
            [spark.read.parquet(base), spark.read.parquet(inc_dir)],
            dedup=True, daily_limit=cdxpipe.DAY_LIMIT, num_ranges=cdxpipe.NUM_RANGES,
        )
        merged.write.mode("overwrite").parquet(merged_dir)

    steps = {"build_s": [], "merge_s": []}

    def cycle():
        ops = []
        t = [time.perf_counter()]

        def step(kind, fn):
            fn()
            t.append(time.perf_counter())
            ops.append((kind, t[-1] - t[-2], True))

        try:
            with ctx.tracer.span("cycle"):
                step("index", lambda: cdxpipe.write_index(ctx, base_txt, base_dir))
                step("zipnum", lambda: cdxpipe.export_zipnum(ctx, base_dir, zip_dir))
                with ctx.tracer.span("merge.merge_clusters"):
                    step("merge", lambda: merge(base_dir))
            steps["build_s"].append(t[2] - t[0])
            steps["merge_s"].append(t[3] - t[2])
        except Exception as e:  # a failed step is reported, not fatal
            print(f"cdx_build: cycle failed: {e!r}"[:500], file=sys.stderr)
            kind = ("index", "zipnum", "merge")[len(ops)]
            ops.append((kind, time.perf_counter() - t[-1], False))
        return ops

    ctx.warmup(lambda: [cycle() for _ in range(WARMUP_CYCLES)])
    for v in steps.values():
        v.clear()
    ctx.by_kind = True
    plain, traced = ctx.measure(cycle, min_rounds=MIN_CYCLES)
    ctx.peak_rss = ctx.rss.mb()
    counts = check(ctx, batches, base_dir, zip_dir, merged_dir)

    ctx.layers.update({
        "build_s": statistics.median(steps["build_s"]),
        "merge_s": statistics.median(steps["merge_s"]),
        "zipnum.bytes_per_line": cdxpipe.dir_bytes(zip_dir) / counts["limited"],
        "filters.keep_ratio": counts["filtered"] / counts["parsed"],
        "daylimit.keep_ratio": counts["limited"] / counts["filtered"],
    })
    ctx.ledger_hooks.append(lambda led: _ledger_layers(ctx, led))
    if ctx.trace:
        ctx.contract_layers.update(
            cdxpipe.layout_metrics(ctx, raw_bytes, base_dir, zip_dir, "cycle"))
    return ctx.result(plain, traced)


def _ledger_layers(ctx, led) -> dict[str, float]:
    """Per-cycle Spark ledger of the build (cluster + ZipNum) and merge."""
    build = [ctx.span_ledger(led, n, parent="cycle")
             for n in ("cluster.write_cluster", "zipnum.write_zipnum")]
    parts = {"build": {k: build[0][k] + build[1][k] for k in build[0]},
             "merge": ctx.span_ledger(led, "merge.merge_clusters", parent="cycle")}
    out = {}
    for prefix, t in parts.items():
        n = max(t["calls"] / (2 if prefix == "build" else 1), 1)
        keys = ("jobs", "stages", "tasks", "shuffle_write_mb")
        if prefix == "build":
            keys += ("spill_mb", "gc_s", "cpu_s", "python_stage_s", "jvm_stage_s")
        for k in keys:
            name = "executor_cpu_s" if k == "cpu_s" else k
            out[f"{prefix}.{name}"] = t[k] / n
    out["merge.merge_clusters_s"] = statistics.median(
        ctx.durations("merge.merge_clusters", parent="cycle"))
    return out


def check(ctx, batches, base_dir, zip_dir, merged_dir) -> dict[str, int]:
    """Correctness checks (outside the timed window); returns DuckDB's
    reference counts."""
    from ia_hadoop_tools_spark.sources.zipnum import read_zipnum

    con = cdxpipe.duck({
        "base_raw": cdxgen.rows_table(batches["base"][1]),
        "inc_raw": cdxgen.rows_table(batches["increment"][1]),
    })

    def one(sql):
        return con.execute(sql).fetchone()[0]

    spark = ctx.spark
    with ctx.tracer.span("checks"):
        counts = {
            "parsed": one("SELECT count(*) FROM base_raw"),
            "filtered": one(f"SELECT count(*) FROM ({cdxpipe.filtered_sql('base_raw')})"),
            "limited": one(f"SELECT count(*) FROM ({cdxpipe.indexed_sql('base_raw')})"),
        }
        ctx.checks["cluster_sorted_disjoint"] = (
            cdxpipe.cluster_sorted_disjoint(base_dir)
            and cdxpipe.cluster_sorted_disjoint(merged_dir)
        )
        ctx.checks["day_limit_respected"] = all(
            one(cdxpipe.max_per_day_sql(d)) <= cdxpipe.DAY_LIMIT
            for d in (base_dir, merged_dir)
        )
        ctx.checks["base_count"] = spark.read.parquet(base_dir).count() == counts["limited"]
        ctx.checks["merged_count"] = (
            spark.read.parquet(merged_dir).count()
            == one(cdxpipe.merged_count_sql("base_raw", "inc_raw"))
        )
        zip_lines = sorted(r.value for r in read_zipnum(spark, zip_dir).collect())
        want = sorted(r[0] for r in con.execute(cdxpipe.render_sql(
            f"SELECT * FROM read_parquet('{base_dir}/*.parquet')")).fetchall())
        ctx.checks["zipnum_equals_parquet"] = zip_lines == want
    con.close()
    return counts
