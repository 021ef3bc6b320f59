"""CDX cluster HTTP server: the SERVING side of the paged-query contract.

Reference: the consuming half lives in pig/HttpTextLoader.java:80-138 (one
input split per ``&page=i``, page count probed via ``&showNumPages=true`` →
``X-CDX-Num-Pages`` header, optional ``X-CDX-Cluster-Uri`` for deref mode)
and pig/HttpZipNumDerefLineRecordReader.java:66-74 (``start=``/``end=``
range pushdown riding the query string, summary pages requested with
``&showPagedIndex=true``). The reference ecosystem assumes a wayback CDX
server publishing that contract; this module IS that server over a ZipNum
cluster written by this engine (sources/zipnum.py), so two deployments of
this engine can feed each other: one serves a cluster, the other reads it
with :func:`ia_hadoop_tools_spark.sources.http.read_http_paged`.

Contract served (all parameters in the query string):

- ``showNumPages=true`` → ``200``, page count in ``X-CDX-Num-Pages`` and as
  the body; ``X-CDX-Cluster-Uri`` names the cluster directory. The count
  honors ``start``/``end``/``pageSize``, so a pruned query costs
  proportionally fewer pages (the pushdown the reference's record reader
  exploits). HEAD works the same way minus the body.
- ``page=i`` (default 0) → that page's CDX lines, dereferenced server-side
  (blocks ranged-read + gunzipped, lines bounded to ``[start, end)``).
- ``showPagedIndex=true&page=i`` → that page's SUMMARY lines (tab-separated
  ``key shard offset length``) — the deref client fetches blocks itself.
- ``key=<urlkey>&closest=<ts>[&limit=n]`` → the n captures of that urlkey
  nearest the 14-digit timestamp, nearest first (ties toward the earlier
  capture) — Wayback's point lookup, served the way pywb serves
  ``sort=closest``: binary search the summary to the covering blocks
  (cdx/CDXCluster.java:31-43), deref only those, rank by seconds
  distance. Cost is O(blocks holding that urlkey), not a cluster scan.
- With ``hmac_secret``, every request must carry a valid HMAC cookie
  (functions/authfns.py); 401 otherwise — the ``cdx_auth_token`` pattern
  (pig/HttpTextLoader.java:199-204).

Pages are contiguous runs of summary blocks: ``page_size`` blocks per page
over the range-pruned block list. Page boundaries are a pure function of
``(start, end, pageSize)``, so the stateless probe-then-fetch sequence is
consistent without server-side session state.

Scale note: like the GZRange server this is an ops-side sidecar, not a
Spark operator — it serves whatever fsio can read (local/HDFS/S3 via
pyarrow.fs) from one configured cluster directory only (no arbitrary-path
reads), binding loopback by default.
"""

from __future__ import annotations

import bisect
import math
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from ia_hadoop_tools_spark.sources.zipnum import read_lines, read_summary_rows

NUM_PAGES_HEADER = "X-CDX-Num-Pages"  # HttpTextLoader.java:60
CLUSTER_URI_HEADER = "X-CDX-Cluster-Uri"  # HttpTextLoader.java:61


def _ts14_seconds(ts: str) -> int:
    """ts14 -> seconds since 1970-01-01, timezone-free — the same calendar
    arithmetic as operators/cdx_query._ts14_seconds, so the served closest
    ranking and the DataFrame sort=closest ranking agree exactly.

    Raises ValueError on a non-calendar date OR an invalid time of day:
    hour 99 would otherwise produce a FINITE bogus distance that can
    out-rank real captures (the Spark twin nulls exactly these)."""
    from datetime import date

    days = (
        date(int(ts[0:4]), int(ts[4:6]), int(ts[6:8])).toordinal()
        - date(1970, 1, 1).toordinal()
    )
    hh, mm, ss = int(ts[8:10]), int(ts[10:12]), int(ts[12:14])
    if hh > 23 or mm > 59 or ss > 59:
        raise ValueError(f"invalid time of day in ts14 {ts!r}")
    return days * 86400 + hh * 3600 + mm * 60 + ss


class ClusterPager:
    """Range-pruned, page-chunked view of one cluster's ALL.summary.

    The summary is globally key-sorted (shards cover alphabetically
    contiguous ranges), so block ``i`` covers ``[key_i, key_{i+1})`` and
    range pruning is two binary searches — the driver-side twin of
    cdx/CDXCluster.getRangeBlockIterator (cdx/CDXCluster.java:31-43).
    """

    def __init__(self, cluster_dir: str, filesystem=None):
        self.cluster_dir = cluster_dir
        self.filesystem = filesystem
        # the ONE shared summary TSV parse — hand-rolling it here would
        # silently diverge from the planner if the format ever changes
        self.blocks = read_summary_rows(cluster_dir, filesystem)
        self._keys = [b[0] for b in self.blocks]

    def prune(self, start: str | None, end: str | None) -> tuple[int, int]:
        """[lo, hi) block-index window intersecting [start, end)."""
        lo = 0
        if start is not None:
            # keep the last block whose key <= start: it may still hold
            # in-range lines (its key is a lower bound, not a first line).
            # bisect_LEFT: when a block key EQUALS start, the preceding
            # block's tail lines may also equal start (duplicate keys
            # spanning a block boundary) — zipnum_range keeps that block
            # via next_key >= start, and the server must match it
            lo = max(bisect.bisect_left(self._keys, start) - 1, 0)
        hi = len(self.blocks)
        if end is not None:
            hi = bisect.bisect_left(self._keys, end, lo)
        return lo, hi

    def num_pages(
        self, start: str | None, end: str | None, page_size: int
    ) -> int:
        lo, hi = self.prune(start, end)
        return math.ceil((hi - lo) / page_size)

    def page_blocks(
        self, page: int, start: str | None, end: str | None, page_size: int
    ) -> list[tuple[str, str, int, int]]:
        lo, hi = self.prune(start, end)
        plo = lo + page * page_size
        return self.blocks[plo : min(plo + page_size, hi)]

    def index_lines(self, blocks) -> str:
        return "".join(
            f"{k}\t{shard}\t{off}\t{ln}\n" for k, shard, off, ln in blocks
        )

    def closest_lines(self, urlkey: str, ts: str, limit: int = 1) -> str:
        """The ``limit`` captures of ``urlkey`` nearest ``ts``, nearest
        first; ties break toward the earlier capture, then by the SAME
        column tiebreak as cdx_query._TIEBREAK (original_url, digest,
        offset, filename) — NOT the raw line string, whose field order
        would interleave mimetype/status into the ordering. Unrankable
        captures (malformed timestamp) rank LAST in default order, like
        the DataFrame path's asc_nulls_last — dropping them would make
        the served row set diverge from cdx_query at limits beyond the
        valid-capture count. Touches only the blocks whose key range can
        hold the urlkey ('!' is the smallest printable above the
        key-field separator, so ``[key, key + '!')`` bounds exactly that
        urlkey's lines)."""
        from ia_hadoop_tools_spark.operators.cdx_query import pad_closest_ts

        def tiebreak(line: str):
            f = line.split(" ")
            try:
                off = int(f[9]) if len(f) > 9 else 0
            except ValueError:
                off = 0
            return (
                f[2] if len(f) > 2 else "",
                f[5] if len(f) > 5 else "",
                off,
                f[10] if len(f) > 10 else "",
            )

        lo, hi = self.prune(urlkey, urlkey + "!")
        target = _ts14_seconds(pad_closest_ts(ts))
        scored = []
        for line in read_lines(
            self.cluster_dir, self.blocks[lo:hi], urlkey, urlkey + "!",
            filesystem=self.filesystem,
        ):
            parts = line.split(" ", 2)
            if len(parts) < 2 or parts[0] != urlkey:
                continue
            try:
                dist = abs(_ts14_seconds(parts[1]) - target)
                rankable = 0
            except ValueError:
                dist = 0  # sorts after every rankable row via the flag
                rankable = 1
            scored.append(
                (rankable, dist, parts[1], tiebreak(line), line)
            )
        scored.sort(key=lambda t: t[:4])
        return "".join(t[4] + "\n" for t in scored[:limit])

    def deref_lines(
        self, blocks, start: str | None, end: str | None
    ) -> str:
        """Ranged-read + gunzip each block; bound lines to [start, end) by
        their ``urlkey timestamp`` prefix (the codec's one read loop:
        records framed by ``\\n`` only, a corrupt block raises)."""
        lines = read_lines(
            self.cluster_dir, blocks, start, end, filesystem=self.filesystem
        )
        return "".join(line + "\n" for line in lines)


class CDXClusterHandler(BaseHTTPRequestHandler):
    """GET/HEAD ``?showNumPages=true | [showPagedIndex=true&]page=i`` with
    optional ``start``/``end``/``pageSize`` — the HttpTextLoader contract."""

    pager: ClusterPager  # set by make_cdx_server subclassing
    page_size: int = 10
    hmac_secret: str | None = None

    def log_message(self, fmt, *args):  # quiet under test load
        pass

    def _text(self, code: int, body: str, headers: dict[str, str] | None = None,
              send_body: bool = True) -> None:
        payload = body.encode("utf-8")
        self.send_response(code)
        self.send_header("Content-Type", "text/plain;charset=utf-8")
        self.send_header("Content-Length", str(len(payload)))
        for k, v in (headers or {}).items():
            self.send_header(k, v)
        self.end_headers()
        if send_body:
            self.wfile.write(payload)

    def _handle(self, send_body: bool) -> None:
        if self.hmac_secret is not None:
            from ia_hadoop_tools_spark.functions.authfns import (
                verify_hmac_cookie,
            )

            cookie = self.headers.get("Cookie") or ""
            if not verify_hmac_cookie(cookie, self.hmac_secret):
                return self._text(
                    401, "invalid or expired cookie\n", send_body=send_body
                )
        q = parse_qs(urlparse(self.path).query)

        def one(name: str) -> str | None:
            vals = q.get(name)
            return vals[0] if vals else None

        start, end = one("start"), one("end")
        try:
            page_size = int(one("pageSize") or self.page_size)
            page = int(one("page") or 0)
        except ValueError:
            return self._text(400, "bad page/pageSize\n", send_body=send_body)
        if page_size < 1 or page < 0:
            return self._text(400, "bad page/pageSize\n", send_body=send_body)

        if (one("showNumPages") or "").lower() == "true":
            n = self.pager.num_pages(start, end, page_size)
            return self._text(
                200, f"{n}\n",
                {NUM_PAGES_HEADER: str(n),
                 CLUSTER_URI_HEADER: self.pager.cluster_dir},
                send_body=send_body,
            )

        ts = one("closest")
        if ts is not None:
            key = one("key")
            lim = one("limit") or "1"
            if not key or len(ts) < 4 or not ts.isdigit() or not lim.isdigit():
                return self._text(
                    400, "closest requires key=<urlkey>, digit ts, digit limit\n",
                    send_body=send_body,
                )
            try:
                body = self.pager.closest_lines(key, ts, int(lim))
            except OSError as e:  # corrupt block on the deref path
                return self._text(500, f"{e}\n", send_body=send_body)
            except ValueError:
                # digit-but-not-a-date targets (closest=0000 pads to year
                # 0; month 13/31) must answer 400, not drop the socket
                return self._text(
                    400, f"closest={ts} is not a valid timestamp\n",
                    send_body=send_body,
                )
            return self._text(200, body, send_body=send_body)

        n = self.pager.num_pages(start, end, page_size)
        if page >= n and page != 0:  # page 0 of an empty range is just empty
            return self._text(400, f"page {page} >= numpages {n}\n",
                              send_body=send_body)
        blocks = self.pager.page_blocks(page, start, end, page_size)
        if (one("showPagedIndex") or "").lower() == "true":
            return self._text(200, self.pager.index_lines(blocks),
                              send_body=send_body)
        try:
            body = self.pager.deref_lines(blocks, start, end)
        except OSError as e:
            return self._text(500, f"{e}\n", send_body=send_body)
        return self._text(200, body, send_body=send_body)

    def do_GET(self) -> None:  # noqa: N802 (http.server API)
        self._handle(send_body=True)

    def do_HEAD(self) -> None:  # noqa: N802 — the reference probes via HEAD
        self._handle(send_body=False)


def make_cdx_server(
    cluster_dir: str,
    port: int = 8010,
    page_size: int = 10,
    hmac_secret: str | None = None,
    filesystem=None,
) -> ThreadingHTTPServer:
    """Serve one ZipNum cluster over the HttpTextLoader paging contract
    (loopback bind; ``port=0`` picks an ephemeral port for tests)."""
    handler = type(
        "BoundCDXClusterHandler",
        (CDXClusterHandler,),
        {
            "pager": ClusterPager(cluster_dir, filesystem),
            "page_size": page_size,
            "hmac_secret": hmac_secret,
        },
    )
    return ThreadingHTTPServer(("127.0.0.1", port), handler)


def serve(
    cluster_dir: str, port: int = 8010, page_size: int = 10
) -> None:  # pragma: no cover - CLI loop
    srv = make_cdx_server(cluster_dir, port, page_size)
    try:
        srv.serve_forever()
    finally:
        srv.server_close()
