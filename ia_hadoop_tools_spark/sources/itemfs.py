"""Item-API filesystem: the PetaboxFileSystem pattern on pyarrow.fs.

Reference: hadoop/fs/PetaboxFileSystem.java:57-660 — a read-only Hadoop
FileSystem over archive items where directory listing comes from a METADATA
API (item id -> JSON of files with size/mtime, LRU-cached) and file opens
are HTTP range reads. This module is that pattern as a
``pyarrow.fs.FileSystemHandler``: anything in this engine that takes a
``filesystem=`` (the ZipNum codec, fsio.read_range, the kvstore — all of
sources/fsio.py) can read straight off an item server with zero changes.

Path model (depth-2, like the reference): ``<itemid>/<filename>``; the root
lists nothing (the reference answers root/depth>2 with empty, :488-491).
Mutations raise — the reference is explicitly read-only (:305-342).

Protocol (served by any HTTP endpoint; tests run a local one):
- ``GET {api}/metadata/{itemid}`` -> ``{"files": [{"name", "size",
  "mtime"}]}`` (mtime epoch seconds)
- ``GET {dl}/{itemid}/{name}`` with optional ``Range: bytes=a-b``

Scale note: the handler pickles as its two base URLs (``__reduce__``), so
shipping the filesystem into task closures rebuilds a fresh handler per
executor — no sockets cross the wire, and the per-handler LRU metadata
cache (PetaboxFileSystem caches ItemMetadata the same way) means a
1000-task scan costs one metadata fetch per (executor, item), not per task.
"""

from __future__ import annotations


def _utc_dt(ts: float):
    """Timezone-AWARE UTC datetime: a naive utcfromtimestamp value
    is reinterpreted in the Spark session timezone by
    createDataFrame, shifting every mtime by the UTC offset on
    non-UTC clusters; aware datetimes convert correctly."""
    from datetime import datetime, timezone

    return datetime.fromtimestamp(ts, timezone.utc)


import io
import json
import urllib.parse
import urllib.request
from urllib.parse import quote as _q
from functools import lru_cache

from pyarrow import fs as pafs


class _HttpRandomAccessFile(io.RawIOBase):
    """Seekable read-only file over HTTP Range requests.

    Each ``read`` issues one bounded range request — the positioned-read
    contract HDFSBlockLoader/PetaboxFileSystem rely on; callers (the ZipNum
    codec etc.) read in bounded chunks (``zipnum.READ_CHUNK_BYTES``), so
    request count tracks bytes / chunk size, and memory stays one chunk.
    """

    def __init__(self, url: str, size: int, timeout: float = 60.0):
        self._url = url
        self._size = size
        self._pos = 0
        self._timeout = timeout

    def readable(self) -> bool:
        return True

    def seekable(self) -> bool:
        return True

    def seek(self, offset: int, whence: int = io.SEEK_SET) -> int:
        if whence == io.SEEK_SET:
            self._pos = offset
        elif whence == io.SEEK_CUR:
            self._pos += offset
        elif whence == io.SEEK_END:
            self._pos = self._size + offset
        return self._pos

    def tell(self) -> int:
        return self._pos

    def read(self, n: int = -1) -> bytes:
        if self._pos >= self._size:
            return b""
        if n == 0:
            # 'bytes=p-(p-1)' is an invalid range a compliant server
            # IGNORES (returning the whole body) — short-circuit instead
            return b""
        end = self._size - 1 if n is None or n < 0 else min(
            self._pos + n - 1, self._size - 1
        )
        req = urllib.request.Request(
            self._url, headers={"Range": f"bytes={self._pos}-{end}"}
        )
        # timeout: a stalled range request must fail the read, not wedge
        # the executor task that called open_input_file forever
        with urllib.request.urlopen(req, timeout=self._timeout) as resp:
            if resp.status != 206:
                # a server ignoring Range returns 200 + the WHOLE file:
                # accepting it would hand the codec bytes from offset 0
                # as if they were the requested block — corruption, not
                # an error. Fail loudly instead.
                raise OSError(
                    f"server ignored Range (status {resp.status}) for "
                    f"{self._url}; ranged reads are required"
                )
            data = resp.read()
        self._pos += len(data)
        return data

    @property
    def size(self) -> int:
        return self._size


class ItemFileSystemHandler(pafs.FileSystemHandler):
    """Read-only handler over the item-metadata protocol (module doc)."""

    def __init__(
        self,
        api_base: str,
        dl_base: str,
        cache_items: int = 256,
        timeout: float = 60.0,
    ):
        self.api_base = api_base.rstrip("/")
        self.dl_base = dl_base.rstrip("/")
        self.cache_items = cache_items
        self.timeout = timeout
        self._meta = lru_cache(maxsize=cache_items)(self._fetch_meta)

    def __reduce__(self):
        return (
            ItemFileSystemHandler,
            (self.api_base, self.dl_base, self.cache_items, self.timeout),
        )

    def __eq__(self, other):
        return (
            isinstance(other, ItemFileSystemHandler)
            and (self.api_base, self.dl_base)
            == (other.api_base, other.dl_base)
        )

    def __hash__(self):  # __eq__ alone would set __hash__ = None
        return hash((self.api_base, self.dl_base))

    # --- metadata ---------------------------------------------------------
    def _fetch_meta(self, itemid: str) -> dict:
        from urllib.parse import quote

        with urllib.request.urlopen(
            f"{self.api_base}/metadata/{quote(itemid)}", timeout=self.timeout
        ) as r:
            return json.loads(r.read().decode("utf-8"))

    def _file_entry(self, itemid: str, name: str):
        # a MISSING ITEM answers like a missing file (None) — the pyarrow
        # contract is FileType.NotFound / FileNotFoundError, never a raw
        # HTTPError leaking out of get_file_info / open_input_file
        try:
            md = self._meta(itemid)
        except Exception:
            return None
        for f in md.get("files", ()):
            if f["name"] == name:
                return f
        return None

    # --- FileSystemHandler surface ----------------------------------------
    def get_type_name(self) -> str:
        return f"item::{self.api_base}"

    def normalize_path(self, path: str) -> str:
        return path.strip("/")

    def get_file_info(self, paths):
        from datetime import datetime, timezone

        infos = []
        for p in paths:
            # split ONCE after the itemid: metadata names may themselves
            # contain '/' ("deriv/page-0.gz") and must stay openable —
            # splitting on every '/' listed such files but rejected them
            # on open
            parts = self.normalize_path(p).split("/", 1)
            if len(parts) == 1 and parts[0]:
                try:
                    self._meta(parts[0])
                    infos.append(
                        pafs.FileInfo(parts[0], pafs.FileType.Directory)
                    )
                except Exception:
                    infos.append(
                        pafs.FileInfo(parts[0], pafs.FileType.NotFound)
                    )
            elif len(parts) == 2:
                f = self._file_entry(*parts)
                if f is None:
                    infos.append(pafs.FileInfo(p, pafs.FileType.NotFound))
                else:
                    infos.append(
                        pafs.FileInfo(
                            p,
                            pafs.FileType.File,
                            # sparse metadata tolerated like
                            # list_collection_files_df: missing size and
                            # explicit-null mtime both occur in real APIs
                            size=int(f.get("size") or 0),
                            mtime=datetime.fromtimestamp(
                                float(f.get("mtime") or 0), timezone.utc
                            ),
                        )
                    )
            else:  # root
                infos.append(pafs.FileInfo(p, pafs.FileType.NotFound))
        return infos

    def get_file_info_selector(self, selector):
        from datetime import datetime, timezone

        itemid = self.normalize_path(selector.base_dir)
        if not itemid:
            # documented contract (PetaboxFileSystem:488-491): the ROOT
            # lists nothing — answer empty, don't crash a recursive walk
            return []
        if "/" in itemid:
            if selector.allow_not_found:
                return []
            raise FileNotFoundError(selector.base_dir)
        try:
            md = self._meta(itemid)
        except Exception:
            if selector.allow_not_found:
                return []
            raise FileNotFoundError(selector.base_dir) from None
        return [
            pafs.FileInfo(
                f"{itemid}/{f['name']}",
                pafs.FileType.File,
                size=int(f.get("size") or 0),
                mtime=datetime.fromtimestamp(
                    float(f.get("mtime") or 0), timezone.utc
                ),
            )
            for f in md.get("files", ())
        ]

    def open_input_stream(self, path):
        return self.open_input_file(path)

    def open_input_file(self, path):
        from pyarrow import PythonFile

        # split ONCE: nested metadata names keep their '/' (see
        # get_file_info)
        parts = self.normalize_path(path).split("/", 1)
        if len(parts) != 2:
            raise FileNotFoundError(path)
        entry = self._file_entry(*parts)
        if entry is None:
            raise FileNotFoundError(path)
        raw = _HttpRandomAccessFile(
            # quote(): names with spaces/#/?/% are legal in item metadata
            # (the default safe='/' keeps nested-name separators intact)
            f"{self.dl_base}/{_q(parts[0])}/{_q(parts[1])}",
            int(entry.get("size") or 0),
            timeout=self.timeout,
        )
        return PythonFile(raw, mode="r")

    # --- read-only: every mutation raises (PetaboxFileSystem:305-342) -----
    def _ro(self, *a, **k):
        raise OSError("item filesystem is read-only")

    create_dir = delete_dir = delete_dir_contents = _ro
    delete_root_dir_contents = delete_file = move = copy_file = _ro
    open_output_stream = open_append_stream = _ro


def make_item_filesystem(
    api_base: str,
    dl_base: str,
    cache_items: int = 256,
    timeout: float = 60.0,
) -> pafs.PyFileSystem:
    """``pyarrow.fs.PyFileSystem`` over the item-metadata protocol.

    A real pyarrow FileSystem: pass it as ``filesystem=`` to any fsio
    helper / the ZipNum codec, or use directly
    (``fs.open_input_file("item/file.gz")``). Pickles by its base URLs.
    """
    return pafs.PyFileSystem(
        ItemFileSystemHandler(api_base, dl_base, cache_items, timeout)
    )


def search_collection_items(
    api_base: str,
    collection: str,
    rows_per_page: int = 200,
    max_retries: int = 5,
    retry_delay: float = 0.5,
    timeout: float = 60.0,
) -> list[tuple[str, float]]:
    """Collection id -> ``[(itemid, publicdate_epoch)]`` via the paged
    search API — the ItemSearcher pattern (hadoop/fs/ItemSearcher.java:
    23-29; SearchEngineItemSearcher.java:74-160 pages /advancedsearch.php
    200 rows at a time with bounded retries; rows/paging/retry constants
    mirror it).

    Protocol: ``GET {api}/advancedsearch.php?q=collection:{c}&start=N&
    rows=M&output=json`` -> ``{"response": {"numFound": n, "docs":
    [{"identifier", "publicdate"}]}}`` with ISO-Z publicdates.
    """
    import urllib.parse
    from datetime import datetime, timezone

    out: list[tuple[str, float]] = []
    start = 0
    while True:
        q = urllib.parse.urlencode(
            {
                "q": f"collection:{collection}",
                "start": str(start),
                "rows": str(rows_per_page),
                "output": "json",
            }
        )
        payload = json.loads(
            _retrying_get(
                f"{api_base}/advancedsearch.php?{q}",
                max_retries, retry_delay, timeout,
            ).decode("utf-8")
        )
        r = payload.get("response") or {}
        docs = r.get("docs") or []
        for d in docs:
            pd = d.get("publicdate")
            try:
                mt = (
                    datetime.strptime(pd, "%Y-%m-%dT%H:%M:%SZ")
                    .replace(tzinfo=timezone.utc)
                    .timestamp()
                    if pd
                    else 0.0
                )
            except ValueError:
                mt = 0.0  # isodatetime2timestamp returns 0 on parse failure
            out.append((d["identifier"], mt))
        start += len(docs)
        if not docs or start >= int(r.get("numFound", 0)):
            return out


def _retrying_get(url: str, max_retries: int, retry_delay: float,
                  timeout: float) -> bytes:
    """Bounded-retry GET shared by the three ItemSearcher backends AND the
    distributed collection listing (each reference searcher carries the
    identical retry loop; keeping one copy means retry-semantics fixes
    land everywhere at once)."""
    import time as _time

    last_err: Exception | None = None
    for attempt in range(max_retries):
        try:
            with urllib.request.urlopen(url, timeout=timeout) as resp:
                return resp.read()
        except OSError as e:
            last_err = e
            _time.sleep(retry_delay * (attempt + 1))
    raise OSError(f"fetch failed after {max_retries} tries: {url}") from last_err


def search_collection_items_metamgr(
    api_base: str,
    collection: str,
    rows_per_page: int = 200,
    max_retries: int = 5,
    retry_delay: float = 0.5,
    timeout: float = 60.0,
) -> list[tuple[str, float]]:
    """MetaManager backend (fs/MetaManagerItemSearcher.java:86-215):
    paged ``metamgr.php`` query -> ``{"rows": [[identifier, mediatype,
    collections, publicdate], ...]}``. Reference-faithful filtering:
    ``mediatype == 'collection'`` rows are excluded, membership is
    re-verified against the ``;``-delimited collections field (the
    ``*coll*`` query pattern over-matches), publicdate parses as
    ``yyyy-MM-dd HH:mm:ss`` (0 on failure), and paging continues until
    an empty page (the response carries no total)."""
    from datetime import datetime, timezone

    def in_collection(coll: str, collections: str) -> bool:
        # exact ;-delimited membership, MetaManagerItemSearcher.java:73-84
        return coll in (collections or "").split(";")

    out: list[tuple[str, float]] = []
    start = 0
    while True:
        q = urllib.parse.urlencode(
            {
                "srt": "identifier", "ord": "asc",
                "w_collection": f"*{collection}*",
                "fs_identifier": "on", "fs_mediatype": "on",
                "fs_collection": "on",
                "off": str(start), "lim": str(rows_per_page),
                "output_format": "json",
            }
        )
        payload = json.loads(
            _retrying_get(
                f"{api_base}/metamgr.php?{q}", max_retries, retry_delay,
                timeout,
            ).decode("utf-8")
        )
        rows = payload.get("rows") or []
        for row in rows:
            if not row or row[0] is None:
                continue
            iid, mediatype = row[0], row[1] if len(row) > 1 else None
            if mediatype == "collection":
                continue
            if not in_collection(collection, row[2] if len(row) > 2 else ""):
                continue
            publicdate = row[3] if len(row) > 3 else None
            try:
                mt = (
                    datetime.strptime(publicdate, "%Y-%m-%d %H:%M:%S")
                    .replace(tzinfo=timezone.utc)
                    .timestamp()
                    if publicdate
                    else 0.0
                )
            except ValueError:
                mt = 0.0  # sqldatetime2timestamp returns 0 on parse failure
            out.append((iid, mt))
        start += len(rows)
        if not rows:
            return out


def search_collection_items_index(
    service_url: str,
    collection: str,
    max_retries: int = 5,
    retry_delay: float = 0.5,
    timeout: float = 60.0,
) -> list[tuple[str, float]]:
    """Collection-index backend (fs/CollectionIndexItemSearcher.java:
    60-170): one GET of ``{service_url}{collection}`` returning a
    LINE-oriented body — each line either JSON ``{"id":..., "m":
    <epoch_seconds>}`` or a bare ``identifier[ rest]`` (mtime 0); lines
    that are neither are skipped, like the reference's per-line salvage."""
    body = _retrying_get(
        f"{service_url}{urllib.parse.quote(collection)}",
        max_retries, retry_delay, timeout,
    ).decode("utf-8", errors="replace")
    out: list[tuple[str, float]] = []
    for line in body.splitlines():
        if not line:
            continue
        if line.startswith("{"):
            try:
                jo = json.loads(line)
            except ValueError:
                continue  # invalid line: skip, CollectionIndexItemSearcher:158
            iid = jo.get("id")
            if iid is None:
                continue
            out.append((iid, float(jo.get("m") or 0)))
        elif line[0].isalnum():
            iid = line.split(" ", 1)[0]
            out.append((iid, 0.0))
        # else: neither JSON nor identifier — skipped
    return out


def list_collection_files_df(
    spark,
    api_base: str,
    dl_base: str,
    collection: str,
    rows_per_page: int = 200,
    max_retries: int = 5,
    retry_delay: float = 0.5,
    timeout: float = 60.0,
):
    """Every file of every item in a collection ->
    ``DataFrame(path, size, mtime)`` with ``path = itemid/name`` readable
    through :func:`make_item_filesystem` — the PetaboxFileSystem
    listStatus-over-a-collection flow as a distributed listing: the item
    search is one driver-side metadata query (item counts are small next
    to file counts), then each item's metadata fetch runs executor-side,
    one task axis per item, mirroring how LSR listings fan out.
    """
    from collections.abc import Iterator

    import pandas as pd

    items = search_collection_items(
        api_base, collection, rows_per_page=rows_per_page
    )
    if not items:
        return spark.createDataFrame(
            [], "path: string, size: long, mtime: timestamp"
        )
    api = api_base

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for itemid in pdf["itemid"]:
                # the shared bounded transient-retry: one 503/timeout
                # must not kill the whole collection listing task
                meta = json.loads(
                    _retrying_get(
                        f"{api}/metadata/{_q(itemid)}",
                        max_retries, retry_delay, timeout,
                    ).decode("utf-8")
                )
                files = meta.get("files") or []
                yield pd.DataFrame(
                    {
                        "path": [f"{itemid}/{f['name']}" for f in files],
                        "size": [int(f.get("size") or 0) for f in files],
                        "mtime": [
                            _utc_dt(
                                float(f.get("mtime") or 0)
                            )
                            for f in files
                        ],
                    }
                )

    ids = spark.createDataFrame(
        [(i,) for i, _ in items], "itemid: string"
    ).repartition(min(len(items), 64))
    return ids.mapInPandas(fetch, schema="path string, size long, mtime timestamp")
