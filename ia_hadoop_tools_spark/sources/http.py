"""HTTP paged text source (the HttpTextLoader family).

Reference: pig/HttpTextLoader.java:24-238 — a remote CDX server exposes a
paged query API: a HEAD/GET probe with ``&showNumPages=true`` returns the page
count in the ``X-CDX-Num-Pages`` header (:189-225), then one input split is
created per ``&page=i`` (:80-138), each split streaming that page's text
lines; an auth cookie rides along. pig/HttpZipNumDerefLineRecordReader.java
adds start/end range pushdown as query params (:66-74).

Spark shape: page discovery is ONE driver-side probe (metadata, not data);
``spark.range(num_pages)`` is the fan-out axis; ``mapInPandas`` fetches pages
executor-side so the transfer parallelism equals the page count, exactly like
the reference's one-split-per-page plan. Range pushdown: ``start``/``end``
become query params on every page fetch — the remote server prunes, matching
HttpZipNumDerefLineRecordReader's block pushdown.
"""

from __future__ import annotations

import urllib.parse
import urllib.request
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession

NUM_PAGES_HEADER = "X-CDX-Num-Pages"  # HttpTextLoader.java:60
CLUSTER_URI_HEADER = "X-CDX-Cluster-Uri"  # HttpTextLoader.java:61


def _with_params(url: str, extra: dict[str, str]) -> str:
    """Append/replace query params PRESERVING duplicates and blanks:
    CDX APIs use repeated ``filter=`` params, which a dict() round-trip
    silently collapsed (rewriting the caller's query on every fetch)."""
    parts = urllib.parse.urlsplit(url)
    pairs = [
        (k, v)
        for k, v in urllib.parse.parse_qsl(
            parts.query, keep_blank_values=True
        )
        if k not in extra  # replaced keys drop all their old values
    ]
    pairs.extend(extra.items())
    return urllib.parse.urlunsplit(
        parts._replace(query=urllib.parse.urlencode(pairs, doseq=False))
    )


def discover_num_pages(url: str, cookie: str | None = None, timeout: int = 60) -> int:
    """Driver-side probe: ``&showNumPages=true`` -> X-CDX-Num-Pages header
    (falls back to the response body if the header is absent, matching the
    reference's tolerant parse)."""
    return discover_cluster_info(url, cookie, timeout)[0]


def discover_cluster_info(
    url: str, cookie: str | None = None, timeout: int = 60
) -> tuple[int, str | None]:
    """``(num_pages, cluster_uri)`` from one probe — the reference's
    queryLineCount reads BOTH headers (HttpTextLoader.java:189-225:
    X-CDX-Num-Pages for the split count, X-CDX-Cluster-Uri to switch the
    record reader into deref mode)."""
    probe = _with_params(url, {"showNumPages": "true"})
    req = urllib.request.Request(probe)
    if cookie:
        req.add_header("Cookie", cookie)
    with urllib.request.urlopen(req, timeout=timeout) as resp:
        cluster_uri = resp.headers.get(CLUSTER_URI_HEADER)
        hdr = resp.headers.get(NUM_PAGES_HEADER)
        if hdr is not None:
            return int(hdr.strip()), cluster_uri
        return int(resp.read().decode().strip()), cluster_uri


def read_http_paged(
    spark: SparkSession,
    url: str,
    num_pages: int | None = None,
    start: str | None = None,
    end: str | None = None,
    cookie: str | None = None,
    page_param: str = "page",
    timeout: int = 300,
    num_partitions: int | None = None,
) -> DataFrame:
    """Paged HTTP text source -> DataFrame(page, value).

    One HTTP request per page, fetched executor-side; ``start``/``end`` are
    pushed down as query params (server-side range pruning). ``num_pages``
    defaults to the server-reported count.
    """
    import pandas as pd

    push: dict[str, str] = {}
    if start is not None:
        push["start"] = start
    if end is not None:
        push["end"] = end

    base = _with_params(url, push)
    if num_pages is None:
        # probe WITH the pushdown params: the reference's location URL
        # already carries start/end when queryLineCount appends
        # showNumPages (HttpTextLoader.java:189-196), so a pruned range
        # costs proportionally fewer pages
        num_pages = discover_num_pages(base, cookie, timeout=timeout)
    if num_pages == 0:
        return spark.createDataFrame([], "page long, value string")
    ck = cookie

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for page in pdf["id"]:
                page_url = _with_params(base, {page_param: str(int(page))})
                req = urllib.request.Request(page_url)
                if ck:
                    req.add_header("Cookie", ck)
                with urllib.request.urlopen(req, timeout=timeout) as resp:
                    text = resp.read().decode("utf-8", errors="replace")
                # rstrip \r: a CRLF-normalizing proxy would otherwise glue
                # \r onto every value (the reference's LineRecordReader
                # strips it)
                lines = [
                    l.rstrip("\r") for l in text.split("\n") if l not in ("", "\r")
                ]
                yield pd.DataFrame({"page": int(page), "value": lines})

    pages = spark.range(num_pages)
    if num_partitions:
        pages = pages.repartition(num_partitions)
    else:
        pages = pages.repartition(num_pages)  # one task per page, as reference
    return pages.mapInPandas(fetch, schema="page long, value string")


def read_http_zipnum_deref(
    spark: SparkSession,
    url: str,
    cluster_uri: str | None = None,
    start: str | None = None,
    end: str | None = None,
    cookie: str | None = None,
    num_pages: int | None = None,
    timeout: int = 300,
    skip_bad: bool = False,
    filesystem=None,
) -> DataFrame:
    """DEREF mode: fetch only SUMMARY pages over HTTP, pull data blocks
    directly from storage — pig/HttpZipNumDerefLineRecordReader.java:30-75
    (the record reader asks the server for ``showPagedIndex`` splits, then
    ``ZipNumIndex.getCDXIterator`` reads the shards itself).

    This is the scale architecture: the HTTP server moves ~1/3000 of the
    bytes (index lines); every task streams its blocks straight from the
    cluster filesystem (``cluster_uri`` — discovered from the probe's
    X-CDX-Cluster-Uri header when not given), so data bandwidth scales
    with the cluster, not with one server. ``start``/``end`` push down
    twice: the server prunes index pages, and each task re-bounds emitted
    lines. Returns DataFrame(value), rows identical to ``zipnum_range``.
    """
    from ia_hadoop_tools_spark.sources.zipnum import read_lines

    push: dict[str, str] = {"showPagedIndex": "true"}
    if start is not None:
        push["start"] = start
    if end is not None:
        push["end"] = end
    base = _with_params(url, push)
    if num_pages is None or cluster_uri is None:
        # the caller's timeout budget applies to the probe too (a cold
        # server's showNumPages can be the slowest request of the read)
        n, uri = discover_cluster_info(base, cookie, timeout=timeout)
        num_pages = n if num_pages is None else num_pages
        cluster_uri = uri if cluster_uri is None else cluster_uri
    if cluster_uri is None:
        raise ValueError(
            "deref mode needs cluster_uri (server sent no X-CDX-Cluster-Uri)"
        )
    if num_pages == 0:
        return spark.createDataFrame([], "value: string")

    ck, s, e, d, sb, fs_obj, to = (
        cookie, start, end, cluster_uri, skip_bad, filesystem, timeout,
    )
    acc = spark.sparkContext.accumulator(0) if skip_bad else None

    def deref(pages) -> Iterator[tuple[str]]:
        for page in pages:
            page_url = _with_params(base, {"page": str(int(page))})
            req = urllib.request.Request(page_url)
            if ck:
                req.add_header("Cookie", ck)
            with urllib.request.urlopen(req, timeout=to) as resp:
                text = resp.read().decode("utf-8", errors="replace")
            rows = [line.split("\t") for line in text.split("\n") if line]
            blocks = [(shard, int(o), int(n)) for _k, shard, o, n in rows]
            for line in read_lines(d, blocks, s, e, sb, acc, fs_obj):
                yield (line,)

    rdd = (
        spark.sparkContext.parallelize(range(num_pages), num_pages)
        .mapPartitions(deref)
    )
    df = spark.createDataFrame(rdd, "value: string")
    if acc is not None:
        df.skip_bad_count = acc
    return df
