"""Seeded CDX text generator for the Wayback workloads.

``make_batches(seed, n_base)`` returns a base batch of about ``n_base`` raw
CDX lines and an increment batch of about ``n_base * INCREMENT_SHARE`` lines,
plus, for each batch, the typed rows the parser should produce from its
lines (the "truth" the DuckDB checks run on). The same seed gives the same
lines.

Traffic dimensions the batches cover:

- Zipf-skewed url popularity (``ZIPF_S``) over a fixed url population, so a
  few hot urls own most captures and the day limit bites on them;
- same-second capture bursts (several captures of one url with one
  timestamp, told apart by digest/offset/filename);
- a ``REVISIT_SHARE`` of ``warc/revisit`` rows, whose statuscode is ``-``;
- a 9/10/11-column mix, and 3xx redirects that contain raw spaces (the
  parser's redirect repair);
- rows that each ``cdx_filter``/``global_wayback_filter`` rule drops
  (dns:/filedesc:/warcinfo: keys, noarchive flag, missing status on a
  non-warc row, missing offset, live-web 502/504), plus a header line,
  short garbage lines and trailing ``\\r``;
- an increment that overlaps the base: it re-captures the same url
  population on the same days and repeats ``INCREMENT_DUP_SHARE`` of its
  lines verbatim from the base (exact duplicates for the merge's dedup).

Urls are lowercase, ``www``-free, port-free and carry at most one query
argument, so their SURT key is the reversed host, ``)`` and the path — the
generator writes that key itself and the self-test checks it against the
engine's canonicalizer.
"""

from __future__ import annotations

import random
from bisect import bisect_left
from datetime import date, timedelta

HEADER = " CDX N b a m s k r M S V g"
ZIPF_S = 1.1
URLS_PER_LINE = 1 / 8  # url population size relative to the batch
N_DAYS = 45
BURST_SHARE = 0.06
REVISIT_SHARE = 0.10
INCREMENT_SHARE = 0.25
INCREMENT_DUP_SHARE = 0.30
START_DAY = date(2021, 3, 1)

_TLDS = ("com", "org", "net", "de", "fr", "co.uk", "io", "jp")
_WORDS = (
    "news", "shop", "blog", "wiki", "mail", "data", "docs", "media",
    "static", "forum", "store", "photos", "video", "maps", "press",
)
_MIMES = ("text/html",) * 14 + ("image/jpeg", "image/png", "application/pdf",
                                "text/css", "application/javascript")
_PSEUDO = ("dns:", "filedesc:", "warcinfo:")

#: column names of the typed CDX schema, in line order
COLUMNS = (
    "urlkey", "timestamp", "original_url", "mimetype", "statuscode",
    "digest", "redirect", "meta_flags", "compressed_length",
    "compressed_offset", "filename",
)


def _urls(rng: random.Random, n: int) -> list[tuple[str, str]]:
    """``n`` distinct (original_url, urlkey) pairs over ~n/12 hosts."""
    n_hosts = max(4, n // 12)
    hosts = []
    for h in range(n_hosts):
        name = f"{rng.choice(_WORDS)}{h}"
        tld = rng.choice(_TLDS)
        host = f"{name}.{tld}"
        if rng.random() < 0.3:
            host = f"{rng.choice(_WORDS)}.{host}"
        hosts.append(host)
    out = []
    seen = set()
    i = 0
    while len(out) < n:
        host = hosts[i % n_hosts] if i < n_hosts else rng.choice(hosts)
        i += 1
        r = rng.random()
        if r < 0.15:
            path = "/"
        elif r < 0.6:
            path = f"/{rng.choice(_WORDS)}/{rng.randrange(10**6)}.html"
        elif r < 0.85:
            path = f"/{rng.choice(_WORDS)}{rng.randrange(1000)}/"
        else:
            path = f"/item?id={rng.randrange(10**6)}"
        url = f"http://{host}{path}"
        if url in seen:
            continue
        seen.add(url)
        key = ",".join(reversed(host.split("."))) + ")" + path
        out.append((url, key))
    return out


def _cum_zipf(n: int) -> list[float]:
    acc, cw = 0.0, []
    for r in range(n):
        acc += 1.0 / (r + 1) ** ZIPF_S
        cw.append(acc)
    return cw


class _Writer:
    """Emits lines and their parsed rows; owns the offset counter, so every
    generated capture has a distinct compressed_offset."""

    def __init__(self, rng: random.Random, urls, cum_weights):
        self.rng = rng
        self.urls = urls
        self.cw = cum_weights
        self.lines: list[str] = []
        self.rows: list[tuple] = []
        self.next_offset = 1000

    def pick_url(self) -> tuple[str, str]:
        x = self.rng.random() * self.cw[-1]
        return self.urls[bisect_left(self.cw, x)]

    def capture(self, url: str, key: str, ts: str) -> None:
        rng = self.rng
        r = rng.random()
        status: str = "200"
        redirect = "-"
        if r < REVISIT_SHARE:
            mime, status = "warc/revisit", "-"
        else:
            mime = rng.choice(_MIMES)
            s = rng.random()
            if s < 0.06:
                status = rng.choice(("301", "302"))
                redirect = f"http://{url.split('/')[2]}/moved/{rng.randrange(10**5)}"
                if rng.random() < 0.4:
                    redirect += " landing page"  # raw spaces: parser repair
            elif s < 0.09:
                status = "404"
        digest = "%032X" % rng.getrandbits(128)
        length = str(rng.randrange(300, 60000))
        self.next_offset += rng.randrange(300, 60000)
        offset = str(self.next_offset)
        meta = "-"
        filename = f"CRAWL-{ts[:8]}-{rng.randrange(100):05d}.warc.gz"
        # filter-rule hits, one rule per row
        f = rng.random()
        if f < 0.005:
            key = rng.choice(_PSEUDO) + url.split("/")[2]
        elif f < 0.010:
            meta = "A"  # noarchive
        elif f < 0.015 and mime != "warc/revisit":
            status = "-"  # missing status on a non-warc row
        elif f < 0.020:
            offset = rng.choice(("-", "x" + offset))  # non-numeric offset
        elif f < 0.030:
            filename = f"live-{ts[:8]}{rng.randrange(10**6):06d}.arc.gz"
            if mime != "warc/revisit" and rng.random() < 0.6:
                status = rng.choice(("502", "504"))
        # column variant: 9/10-col lines cannot carry a spaced redirect
        v = rng.random()
        if v < 0.05 and " " not in redirect:
            toks = (key, ts, url, mime, status, digest, redirect, offset, filename)
            meta, length = None, None
        elif v < 0.10 and " " not in redirect:
            toks = (key, ts, url, mime, status, digest, redirect, meta, offset,
                    filename)
            length = None
        else:
            toks = (key, ts, url, mime, status, digest, redirect, meta, length,
                    offset, filename)
        line = " ".join(toks)
        if rng.random() < 0.01:
            line += "\r"
        self.lines.append(line)
        self.rows.append(_parsed(key, ts, url, mime, status, digest, redirect,
                                 meta, length, offset, filename))


def _dash(v):
    return None if v is None or v == "-" else v


def _int(v):
    v = _dash(v)
    return int(v) if v is not None and v.lstrip("-").isdigit() else None


def _parsed(key, ts, url, mime, status, digest, redirect, meta, length, offset,
            filename) -> tuple:
    """The typed row ``parse_cdx`` should produce for one generated line."""
    return (key, ts, url, _dash(mime), _int(status), _dash(digest),
            _dash(redirect), _dash(meta), _int(length), _int(offset),
            _dash(filename))


def ts14(rng: random.Random) -> str:
    """A uniform 14-digit timestamp within the capture days."""
    day = START_DAY + timedelta(days=rng.randrange(N_DAYS))
    s = rng.randrange(86400)
    return f"{day:%Y%m%d}{s // 3600:02d}{s // 60 % 60:02d}{s % 60:02d}"


def _fill(w: _Writer, n: int) -> None:
    rng = w.rng
    while len(w.lines) < n:
        url, key = w.pick_url()
        ts = ts14(rng)
        k = rng.randrange(2, 5) if rng.random() < BURST_SHARE else 1
        for _ in range(k):
            w.capture(url, key, ts)


def make_batches(seed: int, n_base: int) -> dict:
    """Base and increment batches for one seed: raw lines + parsed rows.

    Returns ``{"base": (lines, rows), "increment": (lines, rows)}``; lines
    include the header and garbage lines, rows only what the parser keeps.
    """
    rng = random.Random(seed)
    urls = _urls(rng, max(8, int(n_base * URLS_PER_LINE)))
    rng.shuffle(urls)  # popularity rank independent of generation order
    cw = _cum_zipf(len(urls))

    base = _Writer(rng, urls, cw)
    _fill(base, n_base)

    inc = _Writer(rng, urls, cw)
    inc.next_offset = base.next_offset  # new captures keep offsets distinct
    n_inc = int(n_base * INCREMENT_SHARE)
    n_dup = int(n_inc * INCREMENT_DUP_SHARE)
    for i in rng.sample(range(len(base.lines)), n_dup):
        inc.lines.append(base.lines[i])
        inc.rows.append(base.rows[i])
    _fill(inc, n_inc)

    out = {}
    for name, w in (("base", base), ("increment", inc)):
        lines = list(w.lines)
        # shuffle so bursts and duplicates do not sit in sorted runs
        rng.shuffle(lines)
        for j in range(max(1, len(lines) // 1000)):
            lines.insert(rng.randrange(len(lines)), f"garbage {j} line")
        lines.insert(0, HEADER)
        out[name] = (lines, w.rows)
    return out


def write_lines(path: str, lines: list[str]) -> int:
    """Write LF-terminated lines; returns the byte size written."""
    data = ("\n".join(lines) + "\n").encode("utf-8")
    with open(path, "wb") as fh:
        fh.write(data)
    return len(data)


def rows_table(rows: list[tuple]):
    """Parsed rows as a pyarrow Table with the typed CDX schema."""
    import pyarrow as pa

    types = {"statuscode": pa.int32(), "compressed_length": pa.int64(),
             "compressed_offset": pa.int64()}
    cols = list(zip(*rows)) if rows else [()] * len(COLUMNS)
    return pa.table({
        c: pa.array(list(v), type=types.get(c, pa.string()))
        for c, v in zip(COLUMNS, cols)
    })
