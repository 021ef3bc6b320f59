"""cdx_serve: Wayback replay lookups against the CDX HTTP server.

Set-up builds the cluster and its ZipNum copy (the fixture), computes the
expected answers of sampled closest requests with ``cdx_query``, stops
Spark and its JVM, and starts ``python -m ia_hadoop_tools_spark cdx-server <zipnum>
<port>`` in its own process. The measured window is an open loop: requests due at a
fixed ``RATE`` req/s for ``--seconds``, sent by one generator process over
at most ``CONNS`` connections. Mix: 70% ``key=&closest=&limit=``, 20%
``start=&end=&page=``, 10% ``showNumPages``; keys alternate Zipf-hot and
uniform. Latency runs from each request's due time.
"""

from __future__ import annotations

import gzip
import json
import os
import random
import socket
import statistics
import subprocess
import sys
import time
import urllib.request
from urllib.parse import parse_qs, quote

import cdxgen
import cdxpipe
from harness import HERE, cpu_ms, pct, scaled

N_LINES = 40_000
RATE = 40.0  # req/s, below the single-process server's knee
CONNS = 4
RANGE_KEYS = 20  # distinct keys spanned by a page / numPages range
CHECK_SAMPLES = 5
#: request kinds in send order: 70% closest, 20% page, 10% showNumPages
MIX = ("closest", "page", "closest", "closest", "numpages",
       "closest", "closest", "page", "closest", "closest")


def _params(path: str) -> dict[str, str]:
    return {k: v[0] for k, v in parse_qs(path[2:]).items()}


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def _requests(seed: int, catalog, seconds: float) -> list:
    """``[due_s, kind, path]`` at a fixed interval of 1/RATE, cycling
    through MIX so every window has the same kind composition."""
    rng = random.Random(seed * 7919 + 1)
    keys = cdxpipe.KeyPicker(rng, catalog)
    reqs = []
    for n in range(int(seconds * RATE)):
        kind = MIX[n % len(MIX)]
        i = keys.pick()
        if kind == "closest":
            lim = rng.choice((1, 3, 10))
            q = f"key={quote(catalog[i][0], safe='')}&closest={keys.ts14()}&limit={lim}"
        else:
            j = min(i + RANGE_KEYS, len(catalog) - 1)
            q = (f"start={quote(catalog[i][0], safe='')}"
                 f"&end={quote(catalog[j][0], safe='')}")
            q += "&page=0" if kind == "page" else "&showNumPages=true"
        reqs.append([n / RATE, kind, "/?" + q])
    return reqs


def run(ctx):
    batches = cdxgen.make_batches(ctx.seed, scaled(N_LINES))
    text = ctx.path("base.cdx")
    raw_bytes = cdxgen.write_lines(text, batches["base"][0])
    con = cdxpipe.duck({"raw": cdxgen.rows_table(batches["base"][1])})
    catalog = cdxpipe.key_catalog(con, "raw")
    con.close()

    ctx.start_spark()
    cluster_dir, zip_dir = ctx.path("cluster"), ctx.path("zipnum")
    ctx.setup(lambda: cdxpipe.build_fixture(ctx, text, cluster_dir, zip_dir))
    reqs = _requests(ctx.seed, catalog, ctx.seconds)
    expected = closest_expected(ctx, reqs, catalog, cluster_dir)
    ctx.stop_spark(jvm=True)  # the window runs the server alone

    port = _free_port()
    t = time.perf_counter()
    server = ctx.spawn([sys.executable, "-m", "ia_hadoop_tools_spark", "cdx-server",
                        zip_dir, str(port)], stdout=subprocess.DEVNULL)
    base = f"http://127.0.0.1:{port}/"
    _wait_ready(base + "?showNumPages=true", server)
    ctx.extra_setup_s = time.perf_counter() - t

    spec_path, out_path = ctx.path("spec.json"), ctx.path("results.json")
    with open(spec_path, "w") as fh:
        json.dump({"port": port, "conns": CONNS, "requests": reqs}, fh)

    windows = []

    def rounds():
        cpu0 = cpu_ms(server.pid)
        gen = ctx.spawn([sys.executable, os.path.join(HERE, "loadgen.py"),
                         spec_path, out_path])
        if gen.wait(timeout=ctx.seconds + 60) != 0:
            raise RuntimeError(f"load generator exited {gen.returncode}")
        with open(out_path) as fh:
            res = json.load(fh)
        windows.append((res, cpu_ms(server.pid) - cpu0))
        return [(kind, lat, status == 200) for kind, _late, lat, status, _n in res]

    def warm():  # the first requests once: page cache, server-side imports
        for _o, _k, path in reqs[:20]:
            urllib.request.urlopen(base + path.lstrip("/"), timeout=30).read()

    ctx.warmup(warm)
    plain, traced = ctx.measure(rounds)
    ctx.peak_rss = ctx.rss.mb()
    ok = True
    for path, want in expected:
        got = urllib.request.urlopen(base + path.lstrip("/"), timeout=30).read()
        if got.decode("utf-8") != want:
            print(f"cdx_serve: closest mismatch for {path}", file=sys.stderr)
            ok = False
    ctx.checks["closest_equals_cdx_query"] = ok and bool(expected)

    res, cpu = windows[-1]
    by_kind = {}
    for kind, _late, lat, _s, _n in res:
        by_kind.setdefault(kind, []).append(lat * 1e3)
    ctx.layers.update({f"serve.{k}_p50_ms": statistics.median(v) for k, v in by_kind.items()})
    ctx.layers["serve.late_p90_ms"] = pct([r[1] * 1e3 for r in res], 90)
    ctx.layers["serve.server_cpu_ms_per_req"] = cpu / len(res)
    ctx.layers["serve.requests"] = len(res)
    if ctx.trace:
        ctx.layers.update(pager_replay(zip_dir, reqs))
        ctx.contract_layers.update(
            cdxpipe.layout_metrics(ctx, raw_bytes, cluster_dir, zip_dir, "fixtures"))
    return ctx.result(plain, traced)


def _wait_ready(url: str, proc, timeout: float = 60.0) -> None:
    deadline = time.perf_counter() + timeout
    while True:
        if proc.poll() is not None:
            raise RuntimeError(f"cdx-server exited {proc.returncode}")
        try:
            urllib.request.urlopen(url, timeout=5).read()
            return
        except OSError:
            if time.perf_counter() > deadline:
                raise
            time.sleep(0.05)


def closest_expected(ctx, reqs, catalog, cluster_dir: str) -> list[tuple[str, str]]:
    """(request path, expected body) for the first CHECK_SAMPLES closest
    requests with distinct keys, from cdx_to_text(cdx_query(sort="closest"))."""
    from ia_hadoop_tools_spark.operators.cdx_query import cdx_query
    from ia_hadoop_tools_spark.operators.parse import cdx_to_text

    urls = {k: u for k, u, _c in catalog}
    cluster = ctx.spark.read.parquet(cluster_dir)
    out, seen = [], set()
    with ctx.tracer.span("checks"):
        for _o, kind, path in reqs:
            q = _params(path)
            if kind != "closest" or q["key"] in seen:
                continue
            seen.add(q["key"])
            df = cdx_to_text(cdx_query(cluster, urls[q["key"]], sort="closest",
                                       closest=q["closest"], limit=int(q["limit"])))
            out.append((path, "".join(r.value + "\n" for r in df.collect())))
            if len(out) >= CHECK_SAMPLES:
                break
    return out


def pager_replay(zip_dir: str, reqs) -> dict[str, float]:
    """Replay the closest requests through an in-process ClusterPager."""
    from ia_hadoop_tools_spark.sources import fsio
    from ia_hadoop_tools_spark.sources.cdx_http_server import ClusterPager

    pager = ClusterPager(zip_dir)
    prune, deref, closest, blocks, nbytes, scanned, returned = ([] for _ in range(7))
    for _o, kind, path in reqs:
        if kind != "closest":
            continue
        q = _params(path)
        key = q["key"]
        t0 = time.perf_counter()
        lo, hi = pager.prune(key, key + "!")
        t1 = time.perf_counter()
        pager.deref_lines(pager.blocks[lo:hi], key, key + "!")
        t2 = time.perf_counter()
        out = pager.closest_lines(key, q["closest"], int(q["limit"]))
        t3 = time.perf_counter()
        prune.append((t1 - t0) * 1e6)
        deref.append((t2 - t1) * 1e3)
        closest.append((t3 - t2) * 1e3)
        blocks.append(hi - lo)
        nbytes.append(sum(b[3] for b in pager.blocks[lo:hi]))
        scanned.append(sum(
            gzip.decompress(fsio.read_range(fsio.join(zip_dir, s), off, ln)).count(b"\n")
            for _k, s, off, ln in pager.blocks[lo:hi]))
        returned.append(out.count("\n"))
    return {
        "pager.prune_us": statistics.median(prune),
        "pager.deref_ms": statistics.median(deref),
        "pager.closest_ms": statistics.median(closest),
        "pager.blocks_per_lookup": statistics.mean(blocks),
        "pager.bytes_read_per_lookup": statistics.mean(nbytes),
        "pager.lines_scanned_per_line_returned": sum(scanned) / max(sum(returned), 1),
    }
