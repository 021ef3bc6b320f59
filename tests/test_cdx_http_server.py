"""CDX cluster HTTP server (sources/cdx_http_server.py): the serving side
of the HttpTextLoader paging contract, driven end-to-end by this repo's own
read_http_paged client — two deployments of the engine feeding each other."""

from __future__ import annotations

import threading
import urllib.parse
import urllib.request

import pytest

from ia_hadoop_tools_spark.sources.cdx_http_server import make_cdx_server
from ia_hadoop_tools_spark.sources.http import discover_num_pages, read_http_paged
from ia_hadoop_tools_spark.sources.zipnum import write_zipnum, zipnum_range

N_LINES = 300
LINES_PER_BLOCK = 20
PAGE_SIZE = 3  # blocks per page


def _lines():
    return sorted(
        f"com,site{i % 5})/p{i % 3} 2020010{i % 9 + 1}000000 "
        f"http://site{i % 5}.com/p{i % 3} text/html 200 DIG{i} - - 10 "
        f"{i * 7} f.warc.gz"
        for i in range(N_LINES)
    )


@pytest.fixture(scope="module")
def cluster_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("served") / "cluster")
    df = spark.createDataFrame([(l,) for l in _lines()], "value: string")
    write_zipnum(df, d, lines_per_block=LINES_PER_BLOCK, num_shards=2)
    return d


@pytest.fixture(scope="module")
def server(cluster_dir):
    srv = make_cdx_server(cluster_dir, port=0, page_size=PAGE_SIZE)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}/cdx"
    srv.shutdown()


def _get(url: str, method: str = "GET"):
    req = urllib.request.Request(url, method=method)
    try:
        resp = urllib.request.urlopen(req, timeout=30)
        return resp.status, dict(resp.headers), resp.read().decode()
    except urllib.error.HTTPError as e:
        return e.code, dict(e.headers), e.read().decode()


def _n_blocks(cluster_dir):
    with open(f"{cluster_dir}/ALL.summary") as fh:
        return sum(1 for _ in fh)


def test_num_pages_probe_get_and_head(server, cluster_dir):
    # blocks chunk per shard, so count them from the summary itself
    want = -(-_n_blocks(cluster_dir) // PAGE_SIZE)
    assert discover_num_pages(server) == want
    # HEAD probe (the reference's queryLineCount uses HEAD): header only
    status, headers, body = _get(f"{server}?showNumPages=true", method="HEAD")
    assert status == 200 and int(headers["X-CDX-Num-Pages"]) == want
    assert body == ""
    assert headers["X-CDX-Cluster-Uri"]  # deref clients need the cluster loc


def test_full_scan_matches_zipnum_range(spark, server, cluster_dir):
    got = sorted(r.value for r in read_http_paged(spark, server).collect())
    assert got == _lines()
    direct = sorted(
        r.value for r in zipnum_range(spark, cluster_dir, None, None).collect()
    )
    assert got == direct


def test_range_pushdown_prunes_pages(spark, server, cluster_dir):
    start, end = "com,site2)", "com,site3)"
    # the probe carries start/end, so the page count shrinks server-side
    assert discover_num_pages(server) > discover_num_pages(
        f"{server}?start={start}&end={end}"
    ) > 0
    got = sorted(
        r.value
        for r in read_http_paged(spark, server, start=start, end=end).collect()
    )
    direct = sorted(
        r.value
        for r in zipnum_range(spark, cluster_dir, start, end).collect()
    )
    assert got == direct and got  # non-empty and identical


def test_empty_range_yields_no_rows(spark, server):
    # a range past every key keeps at most the conservative trailing block
    # (its upper bound is unknown to the summary) and dereferences to zero
    # lines; a range BELOW every key prunes to exactly zero pages
    assert discover_num_pages(f"{server}?start=zzz&end=zzza") <= 1
    assert read_http_paged(spark, server, start="zzz", end="zzza").count() == 0
    assert discover_num_pages(f"{server}?end=aaa") == 0
    assert read_http_paged(spark, server, end="aaa").count() == 0


def test_show_paged_index_serves_summary(server, cluster_dir):
    n = discover_num_pages(server)
    got = ""
    for page in range(n):
        status, _, body = _get(f"{server}?showPagedIndex=true&page={page}")
        assert status == 200
        got += body
    with open(f"{cluster_dir}/ALL.summary") as fh:
        assert got == fh.read()


def test_page_size_override_and_bad_requests(server, cluster_dir):
    # pageSize=1 -> one block per page
    assert discover_num_pages(f"{server}?pageSize=1") == _n_blocks(cluster_dir)
    status, _, _ = _get(f"{server}?page=9999")
    assert status == 400
    status, _, _ = _get(f"{server}?page=-1")
    assert status == 400
    status, _, _ = _get(f"{server}?pageSize=oops")
    assert status == 400


def test_deref_mode_reads_blocks_directly(spark, server, cluster_dir):
    """HttpZipNumDeref flow: summary pages over HTTP (cluster_uri
    discovered from the probe header), data blocks pulled straight from
    the cluster filesystem — rows identical to the served scan and the
    direct scan, with and without range pushdown."""
    from ia_hadoop_tools_spark.sources.http import read_http_zipnum_deref

    got = sorted(
        r.value for r in read_http_zipnum_deref(spark, server).collect()
    )
    assert got == _lines()

    start, end = "com,site1)", "com,site2)"
    got = sorted(
        r.value
        for r in read_http_zipnum_deref(
            spark, server, start=start, end=end
        ).collect()
    )
    direct = sorted(
        r.value for r in zipnum_range(spark, cluster_dir, start, end).collect()
    )
    assert got == direct and got

    # empty range short-circuits to zero pages
    assert read_http_zipnum_deref(spark, server, end="aaa").count() == 0


def test_closest_point_lookup(server, cluster_dir):
    """Wayback's point lookup served over HTTP: nearest capture(s) to a
    timestamp for one urlkey, ranked by calendar-seconds distance with
    ties toward the earlier capture, touching only the covering blocks."""
    from ia_hadoop_tools_spark.sources.cdx_http_server import ClusterPager

    key = "com,site2)/p1"
    # captures of this key: i%5==2 and i%3==1 -> i%15==7 -> days i%9+1
    want_all = sorted(l for l in _lines() if l.startswith(key + " "))
    assert want_all  # fixture sanity

    status, _, body = _get(f"{server}?key={key}&closest=20200104120000&limit=3")
    assert status == 200
    got = body.splitlines()
    assert len(got) == 3
    # rank the fixture lines the same way and compare exactly
    def secs(ts):
        from datetime import date
        return (
            (date(int(ts[:4]), int(ts[4:6]), int(ts[6:8])).toordinal() - 719162)
            * 86400
            + int(ts[8:10]) * 3600 + int(ts[10:12]) * 60 + int(ts[12:14])
        )
    target = secs("20200104120000")
    want = sorted(
        want_all, key=lambda l: (abs(secs(l.split(" ")[1]) - target), l.split(" ")[1])
    )[:3]
    assert got == want

    # default limit is 1 (the classic "closest capture")
    status, _, body = _get(f"{server}?key={key}&closest=2020010500")
    assert status == 200 and len(body.splitlines()) == 1

    # the lookup is block-bounded: covering blocks for one key are a tiny
    # slice of the cluster
    pager = ClusterPager(cluster_dir)
    lo, hi = pager.prune(key, key + "!")
    assert 0 < hi - lo < len(pager.blocks) / 3

    # unknown key -> empty 200, bad requests -> 400
    status, _, body = _get(f"{server}?key=zz,nope)/&closest=20200101")
    assert status == 200 and body == ""
    assert _get(f"{server}?closest=20200101")[0] == 400
    assert _get(f"{server}?key={key}&closest=notdigits")[0] == 400


def test_hmac_auth(cluster_dir):
    from ia_hadoop_tools_spark.functions.authfns import hmac_cookie_str

    srv = make_cdx_server(cluster_dir, port=0, hmac_secret="s3cret")
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}/cdx"
        status, _, _ = _get(f"{url}?showNumPages=true")
        assert status == 401
        cookie = hmac_cookie_str("cdx_auth_token", "s3cret")
        req = urllib.request.Request(f"{url}?showNumPages=true")
        req.add_header("Cookie", cookie)
        with urllib.request.urlopen(req, timeout=30) as resp:
            assert resp.status == 200
            assert int(resp.headers["X-CDX-Num-Pages"]) > 0
    finally:
        srv.shutdown()


def test_closest_invalid_calendar_ts_is_400_not_crash(server):
    """closest=0000 pads to year 0 — must answer 400, not drop the
    socket with an unhandled ValueError."""
    for bad in ("0000", "20991301"):
        code, _, body = _get(f"{server}?key=com,site0)/p0&closest={bad}")
        assert code == 400, (bad, code, body)
        assert "not a valid timestamp" in body


def test_start_equal_to_block_key_keeps_preceding_block(spark, tmp_path):
    """Review repro: identical (urlkey ts) keys spanning a block boundary
    — a start equal to the boundary key must keep the PRECEDING block's
    tail lines, exactly like zipnum_range does."""
    import threading as _threading

    from ia_hadoop_tools_spark.sources.cdx_http_server import make_cdx_server
    from ia_hadoop_tools_spark.sources.zipnum import (
        read_summary_rows,
        write_zipnum,
        zipnum_range,
    )

    # many captures of ONE (urlkey, ts) so the key spans block boundaries
    lines = sorted(
        f"com,dup)/ 20200101000000 http://dup.com/ text/html 200 D{i:03d} "
        "- - 10 0 f.warc.gz"
        for i in range(40)
    )
    d = str(tmp_path / "dupcluster")
    df = spark.createDataFrame([(l,) for l in lines], "value: string")
    write_zipnum(df, d, lines_per_block=7, num_shards=1)
    keys = [k for k, *_ in read_summary_rows(d)]
    start = "com,dup)/ 20200101000000"
    assert keys.count(start) > 1  # boundary-spanning duplicate keys exist

    engine_rows = sorted(
        r["value"] for r in zipnum_range(spark, d, start, None).collect()
    )
    srv = make_cdx_server(d, port=0, page_size=100)
    t = _threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        base = f"http://127.0.0.1:{srv.server_address[1]}/cdx"
        import urllib.parse as up

        code, _, body = _get(f"{base}?start={up.quote(start)}")
        assert code == 200
        served = sorted(l for l in body.split("\n") if l)
        assert served == engine_rows  # all 40 lines, none pruned away
    finally:
        srv.shutdown()


def test_closest_malformed_capture_ranks_last_not_nearest(spark, tmp_path):
    """Review repro: the server skipped time-of-day validation, so a
    capture with hour 99 got a finite bogus distance and could out-rank
    real captures; and unrankable captures were DROPPED, diverging from
    cdx_query's asc_nulls_last at limits beyond the valid count."""
    from ia_hadoop_tools_spark.sources.cdx_http_server import ClusterPager

    key = "com,dirty)/p"
    lines = sorted([
        f"{key} 20200109990000 http://dirty.com/p text/html 200 DBAD - - 10 0 f.warc.gz",
        f"{key} 20200110000000 http://dirty.com/p text/html 200 DOK1 - - 10 7 f.warc.gz",
        f"{key} 20200120000000 http://dirty.com/p text/html 200 DOK2 - - 10 14 f.warc.gz",
    ])
    d = str(tmp_path / "dirty_cluster")
    df = spark.createDataFrame([(l,) for l in lines], "value: string")
    write_zipnum(df, d, lines_per_block=2, num_shards=1)

    pager = ClusterPager(d)
    # closest=20200112: the hour-99 line would score ~Jan 13 03:00
    # (dist ~27 h) under the bug, beating BOTH real captures (48 h and
    # 192 h); it must instead be unrankable and come LAST
    got = pager.closest_lines(key, "20200112000000", limit=3).splitlines()
    assert [l.split(" ")[5] for l in got] == ["DOK1", "DOK2", "DBAD"]
    # single-capture lookup never returns the malformed line
    got1 = pager.closest_lines(key, "20200112000000", limit=1).splitlines()
    assert [l.split(" ")[5] for l in got1] == ["DOK1"]


def test_served_records_with_unicode_line_breaks_stay_whole(spark, tmp_path):
    """Records are framed by \\n only: a \\x0c, \\x85 or U+2028 inside a
    field must not split a served record (str.splitlines() would), on the
    page path and the closest path alike."""
    from ia_hadoop_tools_spark.sources.zipnum_datasource import register_zipnum

    key = "com,odd)/p"
    lines = sorted([
        f"{key} 20200101000000 http://odd.com/p\x0cq text/html 200 D1 - - 10 0 f.warc.gz",
        f"{key} 20200102000000 http://odd.com/p\u2028q text/html 200 D2 - - 10 7 f.warc.gz",
        f"{key} 20200103000000 http://odd.com/p\x85q text/html 200 D3 - - 10 14 f.warc.gz",
        "com,plain)/ 20200101000000 http://plain.com/ text/html 200 D4 - - 10 21 f.warc.gz",
    ])
    d = str(tmp_path / "odd_cluster")
    df = spark.createDataFrame([(l,) for l in lines], "value: string")
    write_zipnum(df, d, lines_per_block=10, num_shards=1)
    direct = sorted(r.value for r in zipnum_range(spark, d, None, None).collect())
    register_zipnum(spark)
    ds = sorted(r.value for r in spark.read.format("zipnum").load(d).collect())
    assert direct == ds == lines

    srv = make_cdx_server(d, port=0, page_size=10)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        base = f"http://127.0.0.1:{srv.server_address[1]}/cdx"
        code, _, body = _get(f"{base}?page=0")
        assert code == 200
        assert sorted(l for l in body.split("\n") if l) == lines
        code, _, body = _get(
            f"{base}?key={urllib.parse.quote(key)}&closest=20200102000000&limit=3"
        )
        assert code == 200
        got = [l for l in body.split("\n") if l]
        assert got[0] == lines[1]  # D2, the exact-second capture
        assert sorted(got) == [l for l in lines if l.startswith(key + " ")]
    finally:
        srv.shutdown()
        srv.server_close()
