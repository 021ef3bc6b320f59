"""cdx_query: an analyst's Spark session over the index.

Set-up builds the parquet cluster and its ZipNum copy (the fixture). The
measured window is a closed loop with one client: whole rounds of eight
queries, one of each kind, on seeded keys (alternately Zipf-hot and
uniform):

- ``exact``, ``prefix`` (with from/to bounds), ``host``, ``domain`` (with
  a regex filter) — ``cdx_query`` match types;
- ``closest`` — ``sort="closest"`` with a limit;
- ``collapse`` — host match with ``collapse="timestamp:8"``;
- ``cluster_range`` and ``zipnum_range`` over a span of keys.

Each query is timed from DataFrame construction to the last collected row;
the trace splits construction (``build``) from the action (``exec``).
``p50_ms``/``p90_ms`` are the mean of the eight kinds' own percentiles.
"""

from __future__ import annotations

import random
import statistics
import sys
import time
from collections import Counter

import cdxgen
import cdxpipe
from cdxgen import COLUMNS
from harness import scaled

N_LINES = 40_000
RANGE_KEYS = 20
FROM_TS, TO_TS = "20210310000000", "20210325235959"
STATUS_RE = "[23].."
CLOSEST_LIMIT = 5
#: rounds run 2x slower at first and keep speeding up for a minute while the
#: JIT compiles the planner; a fixed count (not a time) of warm-up rounds
#: puts the window at the same point of that slope on a slow host as on a
#: fast one
WARMUP_ROUNDS = 4
#: p50/p90 are taken per kind (harness ``latency``), so every kind needs a
#: few samples of its own
MIN_ROUNDS = 5
KINDS = ("exact", "prefix", "host", "domain", "closest", "collapse",
         "cluster_range", "zipnum_range")
_TIEBREAK = ("original_url NULLS FIRST, digest NULLS FIRST, "
             "compressed_offset NULLS FIRST, filename NULLS FIRST")


def _host(url: str) -> str:
    return url.split("/")[2]


class Queries:
    """Seeded query parameters, one round (all eight kinds) at a time."""

    def __init__(self, seed: int, catalog):
        self.catalog = catalog
        self.keys = cdxpipe.KeyPicker(random.Random(seed * 104729 + 3), catalog)

    def round(self) -> list[tuple[str, dict]]:
        cat, pick = self.catalog, self.keys.pick
        out = []
        for kind in KINDS:
            i = pick()
            key, url, _c = cat[i]
            p = {"key": key, "url": url}
            if kind == "prefix":  # the url's first directory, else its host root
                head = url.split("/", 3)[3].split("/", 1)
                p["url"] = f"http://{_host(url)}/" + (head[0] + "/" if len(head) > 1 else "")
            elif kind in ("host", "collapse"):
                p["url"] = f"http://{_host(url)}/"
            elif kind == "domain":
                parts = _host(url).split(".")
                p["url"] = "http://" + ".".join(parts[-3:] if parts[-2] == "co" else parts[-2:]) + "/"
            elif kind == "closest":
                p["ts"] = self.keys.ts14()
            elif kind in ("cluster_range", "zipnum_range"):
                p["start"], p["end"] = key, cat[min(i + RANGE_KEYS, len(cat) - 1)][0]
                if p["start"] == p["end"]:
                    p["start"] = cat[max(i - RANGE_KEYS, 0)][0]
            out.append((kind, p))
        return out


def build_query(spark, cluster, cluster_dir, zip_dir, kind, p):
    """The DataFrame for one query (construction only, no action)."""
    from ia_hadoop_tools_spark.operators.cdx_query import cdx_query
    from ia_hadoop_tools_spark.operators.cluster import cluster_range
    from ia_hadoop_tools_spark.sources.zipnum import zipnum_range

    if kind == "exact":
        return cdx_query(cluster, p["url"])
    if kind == "prefix":
        return cdx_query(cluster, p["url"], "prefix", from_ts=FROM_TS, to_ts=TO_TS)
    if kind == "host":
        return cdx_query(cluster, p["url"], "host")
    if kind == "domain":
        return cdx_query(cluster, p["url"], "domain", filters=[f"status:{STATUS_RE}"])
    if kind == "closest":
        return cdx_query(cluster, p["url"], sort="closest", closest=p["ts"],
                         limit=CLOSEST_LIMIT)
    if kind == "collapse":
        return cdx_query(cluster, p["url"], "host", collapse="timestamp:8")
    if kind == "cluster_range":
        return cluster_range(cluster_dir, p["start"], p["end"], spark=spark)
    return zipnum_range(spark, zip_dir, p["start"], p["end"])


def run(ctx):
    batches = cdxgen.make_batches(ctx.seed, scaled(N_LINES))
    text = ctx.path("base.cdx")
    raw_bytes = cdxgen.write_lines(text, batches["base"][0])
    con = cdxpipe.duck({"raw": cdxgen.rows_table(batches["base"][1])})
    catalog = cdxpipe.key_catalog(con, "raw")

    spark = ctx.start_spark()
    cluster_dir, zip_dir = ctx.path("cluster"), ctx.path("zipnum")
    ctx.setup(lambda: cdxpipe.build_fixture(ctx, text, cluster_dir, zip_dir))
    cluster = spark.read.parquet(cluster_dir)

    queries = Queries(ctx.seed, catalog)
    results = []  # (kind, params, rows) of the first rounds, for the checks
    phases = {"build": [], "exec": []}
    returned = []  # rows returned per traced query

    def one_round():
        ops = []
        for kind, p in queries.round():
            t0 = time.perf_counter()
            try:
                with ctx.tracer.span(f"query.{kind}"):
                    with ctx.tracer.span("query.build"):
                        df = build_query(spark, cluster, cluster_dir, zip_dir, kind, p)
                    t1 = time.perf_counter()
                    with ctx.tracer.span("query.exec"):
                        rows = df.collect()
                t2 = time.perf_counter()
                phases["build"].append(t1 - t0)
                phases["exec"].append(t2 - t1)
                if len(results) < 2 * len(KINDS):
                    results.append((kind, p, rows))
                if ctx.tracer.enabled:
                    returned.append(len(rows))
                ops.append((kind, t2 - t0, True))
            except Exception as e:  # a failed query is reported, not fatal
                print(f"cdx_query: {kind} failed: {e!r}"[:500], file=sys.stderr)
                ops.append((kind, time.perf_counter() - t0, False))
        return ops

    ctx.warmup(lambda: [one_round() for _ in range(WARMUP_ROUNDS)])
    for v in (results, returned, phases["build"], phases["exec"]):
        v.clear()
    ctx.by_kind = True
    plain, traced = ctx.measure(one_round, min_rounds=MIN_ROUNDS)
    ctx.peak_rss = ctx.rss.mb()
    with ctx.tracer.span("checks"):
        ctx.checks["results_equal_duckdb"] = check(con, results)
    con.close()

    ops = traced if ctx.trace else plain
    ctx.layers.update({
        f"query.{k}_ms": statistics.median(t for kk, t, _ok in ops if kk == k) * 1e3
        for k in KINDS
    })
    ctx.layers.update({
        "query.build_ms": statistics.median(phases["build"]) * 1e3,
        "query.exec_ms": statistics.median(phases["exec"]) * 1e3,
    })
    ctx.ledger_hooks.append(lambda led: _ledger_layers(ctx, led, sum(returned)))
    if ctx.trace:
        ctx.contract_layers.update(
            cdxpipe.layout_metrics(ctx, raw_bytes, cluster_dir, zip_dir, "fixtures"))
    return ctx.result(plain, traced)


def _ledger_layers(ctx, led, returned: int) -> dict[str, float]:
    t = {"jobs": 0, "tasks": 0, "records_read": 0, "calls": 0}
    for kind in KINDS:
        for phase in ("query.build", "query.exec"):
            s = ctx.span_ledger(led, phase, parent=f"query.{kind}")
            for k in ("jobs", "tasks", "records_read"):
                t[k] += s[k]
        t["calls"] += len(ctx.durations(f"query.{kind}"))
    calls = max(t["calls"], 1)
    return {"query.jobs_per_query": t["jobs"] / calls,
            "query.tasks_per_query": t["tasks"] / calls,
            "query.rows_scanned_per_row_returned": t["records_read"] / max(returned, 1)}


def _reference_sql(kind: str, p: dict) -> str:
    from ia_hadoop_tools_spark.functions.surt import _surt_one

    k = _surt_one(p["url"])
    host = k.split(")", 1)[0]
    if kind == "exact":
        return f"SELECT * FROM idx WHERE urlkey = '{k}'"
    if kind == "prefix":
        return (f"SELECT * FROM idx WHERE starts_with(urlkey, '{k}') "
                f"AND timestamp >= '{FROM_TS}' AND timestamp <= '{TO_TS}'")
    if kind == "host":
        return f"SELECT * FROM idx WHERE starts_with(urlkey, '{host})')"
    if kind == "domain":
        return (f"SELECT * FROM idx WHERE (starts_with(urlkey, '{host})') "
                f"OR starts_with(urlkey, '{host},')) AND regexp_full_match("
                f"coalesce(CAST(statuscode AS VARCHAR), '-'), '{STATUS_RE}')")
    if kind == "closest":
        ts = p["ts"]
        return f"""
            SELECT * EXCLUDE (d) FROM (
              SELECT *, abs(epoch(strptime(timestamp, '%Y%m%d%H%M%S'))
                            - epoch(strptime('{ts}', '%Y%m%d%H%M%S'))) AS d
              FROM idx WHERE urlkey = '{k}')
            ORDER BY d, timestamp, {_TIEBREAK} LIMIT {CLOSEST_LIMIT}"""
    if kind == "collapse":
        return f"""
            SELECT * EXCLUDE (prev) FROM (
              SELECT *, lag(substr(timestamp, 1, 8)) OVER (
                  PARTITION BY urlkey ORDER BY timestamp, {_TIEBREAK}) AS prev
              FROM idx WHERE starts_with(urlkey, '{host})'))
            WHERE prev IS DISTINCT FROM substr(timestamp, 1, 8)"""
    if kind == "cluster_range":
        return (f"SELECT * FROM idx WHERE urlkey >= '{p['start']}' "
                f"AND urlkey < '{p['end']}'")
    return cdxpipe.render_sql(
        f"SELECT * FROM idx WHERE urlkey || ' ' || timestamp >= '{p['start']}' "
        f"AND urlkey || ' ' || timestamp < '{p['end']}'")


def check(con, results) -> bool:
    """Each recorded query result equals the DuckDB reference over the
    generator's parsed rows (ordered for closest, as a multiset otherwise)."""
    con.execute(f"CREATE TABLE idx AS {cdxpipe.indexed_sql('raw')}")
    ok = bool(results)
    for kind, p, rows in results:
        ref = con.execute(_reference_sql(kind, p)).fetchall()
        if kind == "zipnum_range":
            got = [(r.value,) for r in rows]
        else:
            got = [tuple(r[c] for c in COLUMNS) for r in rows]
        same = got == ref if kind == "closest" else Counter(got) == Counter(ref)
        if not same:
            print(f"cdx_query: {kind} {p} differs: {len(got)} rows vs {len(ref)}",
                  file=sys.stderr)
            ok = False
    return ok
