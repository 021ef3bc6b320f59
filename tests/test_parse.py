"""Parser tests — fixtures are the reference's own CDXLoaderTest lines."""

from __future__ import annotations

from conftest import CDX_LINE_CR_REDIRECT, CDX_LINE_PLAIN

from ia_hadoop_tools_spark.operators.parse import (
    cdx_to_text,
    parse_cdx,
    parse_crawllog,
)

CRAWLLOG_LINE = (
    "2012-01-03T08:45:08.123Z 200 5612 http://example.com/x LLE "
    "http://example.com/ text/html #042 20120103084507123+456 "
    "sha1:ABCDEF GO duplicate:digest"
)


def test_parse_cdx_plain_and_header_skip(cdx_lines_df):
    rows = parse_cdx(cdx_lines_df).orderBy("urlkey").collect()
    assert len(rows) == 2  # header dropped
    r = [x for x in rows if x.urlkey == "101,78,123,109)/robots.txt"][0]
    assert r.timestamp == "20120103084508"
    assert r.original_url == "http://109.123.78.101/robots.txt"
    assert r.mimetype == "text/html"
    assert r.statuscode == 404
    assert r.digest == "22RZA2NQT3RZUCQYJYZDPVZRNYIR72SN"
    assert r.redirect is None  # '-' -> null
    assert r.meta_flags is None
    assert r.compressed_length == 561
    assert r.compressed_offset == 55426267
    assert r.filename.endswith("00000.warc.gz")


def test_parse_cdx_space_in_redirect_repair(cdx_lines_df):
    """12 raw tokens -> redirect re-joined (CDXLoaderTest.java:82-95)."""
    rows = parse_cdx(cdx_lines_df).filter("urlkey = '131,125,136,219)/'").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.redirect == "http://219.136.125.131/selfLogon.do?hoge=1 2"
    assert r.compressed_length == 449
    assert r.compressed_offset == 34133512


def test_parse_cdx_cr_in_redirect_preserved(spark):
    """CR byte survives parsing (CDXLoaderTest.java:99-112)."""
    df = spark.createDataFrame([(CDX_LINE_CR_REDIRECT,)], "value: string")
    r = parse_cdx(df).collect()[0]
    assert r.redirect == "http://219.136.125.131/self\rLogon.do"


def test_parse_cdx_9_and_10_col_variants(spark):
    nine = "com,example)/ 20200101000000 http://example.com/ text/html 200 DIG - 123 f.warc.gz"
    ten = "com,example)/ 20200101000000 http://example.com/ text/html 200 DIG - A 123 f.warc.gz"
    df = spark.createDataFrame([(nine,), (ten,)], "value: string")
    rows = parse_cdx(df).collect()
    assert all(r.compressed_length is None for r in rows)
    assert all(r.compressed_offset == 123 for r in rows)
    assert all(r.filename == "f.warc.gz" for r in rows)
    metas = sorted([r.meta_flags or "-" for r in rows])
    assert metas == ["-", "A"]


def test_cdx_roundtrip_text(cdx_lines_df):
    parsed = parse_cdx(cdx_lines_df)
    lines = {r.value for r in cdx_to_text(parsed).collect()}
    assert CDX_LINE_PLAIN in lines


def test_parse_crawllog(spark):
    df = spark.createDataFrame([(CRAWLLOG_LINE,)], "value: string")
    r = parse_crawllog(df).collect()[0]
    assert r.status == 200
    assert r.size == 5612
    assert r.url == "http://example.com/x"
    assert r.start_time == "20120103084507123"
    assert r.duration == 456
    assert r.content_hash == "sha1:ABCDEF"
    assert r.annotations == "duplicate:digest"


def test_parse_crawllog_dash_fields(spark):
    line = "2012-01-03T08:45:08Z -404 - http://e.com/ - - - #1 - sha1:X - -"
    df = spark.createDataFrame([(line,)], "value: string")
    r = parse_crawllog(df).collect()[0]
    assert r.status == -404
    assert r.size == -1  # '-' -> -1 (CrawlLogLoader semantics)
    assert r.start_time is None and r.duration is None
    assert r.via_url is None and r.annotations is None


def test_recanonicalize(spark):
    from ia_hadoop_tools_spark.operators.parse import recanonicalize

    df = spark.createDataFrame(
        [
            ("stale-key", "http://www.Example.com/A?b=2&a=1"),
            ("bad", "::::not a url::::"),
        ],
        "urlkey: string, original_url: string",
    )
    rows = recanonicalize(df).collect()
    assert len(rows) == 1  # skip_on_fail drops the bad URL
    assert rows[0].urlkey == "com,example)/a?a=1&b=2"
    kept = recanonicalize(df, skip_on_fail=False).collect()
    assert len(kept) == 2


def test_date_filter_grammar(tmp_path):
    import os
    import time

    from ia_hadoop_tools_spark.sources.listing import parse_date_filter

    def ep(s):
        from datetime import datetime, timezone

        return datetime.strptime(s, "%Y-%m-%d").replace(tzinfo=timezone.utc).timestamp()

    p = parse_date_filter("mtime > 2020-01-01")
    assert p(ep("2020-06-01")) and not p(ep("2019-06-01"))

    p = parse_date_filter("2020-01-01 < mtime <= 2020-12-31")  # flipped + range
    assert p(ep("2020-06-01"))
    assert not p(ep("2019-12-31")) and not p(ep("2021-01-01"))
    assert p(ep("2020-12-31"))  # inclusive upper

    p = parse_date_filter("< 20200101000000")  # implicit mtime, 14-digit date
    assert p(ep("2019-01-01")) and not p(ep("2020-06-01"))

    # date-from-file-mtime: a path literal stands in for its own mtime
    ref = tmp_path / "marker"
    ref.write_text("x")
    os.utime(ref, (time.time() - 1000, time.time() - 1000))
    p = parse_date_filter(f"mtime >= {ref}")
    assert p(time.time()) and not p(time.time() - 5000)

    import pytest as _pytest

    with _pytest.raises(ValueError):
        parse_date_filter("mtime ~ 2020-01-01")
    with _pytest.raises(ValueError):
        parse_date_filter("2020-01-01 < notmtime")


def test_list_files_date_filter(spark, tmp_path):
    import os
    import time

    from ia_hadoop_tools_spark.sources.listing import list_files_df

    old = tmp_path / "old.txt"
    new = tmp_path / "new.txt"
    old.write_text("o")
    new.write_text("n")
    os.utime(old, (time.time() - 86400 * 30,) * 2)
    got = [
        os.path.basename(r.path)
        for r in list_files_df(
            spark, str(tmp_path), date_filter=f"mtime > {old}"
        ).collect()
    ]
    assert got == ["new.txt"]


def test_dirty_numerics_never_crash_under_ansi(spark):
    """The reference drops/nulls malformed numerics; under Spark ANSI mode a
    plain cast would fail the whole job on one dirty line — try_cast keeps
    the drop/null contract."""
    from ia_hadoop_tools_spark.functions.datetime14 import ts14_to_epoch_millis
    from ia_hadoop_tools_spark.operators.parse import parse_cdx, parse_crawllog

    dirty_cdx = spark.createDataFrame(
        [("com,x)/ 20200101000000 http://x.com/ text/html 30x D - - 1Z 9Q f.gz",)],
        "value: string",
    )
    row = parse_cdx(dirty_cdx).collect()[0]
    assert row.statuscode is None
    assert row.compressed_length is None and row.compressed_offset is None

    bad_ts = spark.createDataFrame(
        [("2020010100000X",), ("20200101000000123",), ("2020010100000012X",)],
        "ts: string",
    )
    got = [r.ms for r in bad_ts.select(ts14_to_epoch_millis("ts").alias("ms")).collect()]
    assert got[0] is None          # 14-char non-numeric
    assert got[1] is not None      # valid 17-digit
    assert got[2] is None          # 17-char with bad millis

    dirty_log = spark.createDataFrame(
        [(
            "2012-01-03T08:45:08Z 2XX 5k61 http://e.com/ - - - #1 "
            "20120103084507123+4x6 sha1:X - -",
        )],
        "value: string",
    )
    r = parse_crawllog(dirty_log).collect()[0]
    assert r.status is None
    assert r.size == -1            # bad size -> -1 (CrawlLogLoader.java:67-93)
    assert r.duration is None


def test_list_files_distributed_matches_driver_walk(spark, tmp_path):
    """The mapPartitions walk returns the same (path, size) set as the
    driver-side os.walk for every filter combination, including hidden-dir
    pruning and deep nesting past the fanout frontier."""
    import os
    import time

    from ia_hadoop_tools_spark.sources.listing import (
        list_files_df,
        list_files_df_distributed,
    )

    (tmp_path / "top.warc.gz").write_text("t")
    (tmp_path / "skip.txt").write_text("s")
    (tmp_path / ".hidden").mkdir()
    (tmp_path / ".hidden" / "x.warc.gz").write_text("h")
    deep = tmp_path / "a" / "b" / "c" / "d"
    deep.mkdir(parents=True)
    (deep / "deep.warc.gz").write_text("d")
    (tmp_path / "a" / "mid.warc.gz").write_text("m")
    old = tmp_path / "a" / "old.warc.gz"
    old.write_text("o")
    os.utime(old, (time.time() - 86400 * 365,) * 2)

    for kwargs in (
        {},
        {"extensions": (".warc.gz",)},
        {"extensions": (".warc.gz",), "min_mtime": time.time() - 86400},
        {"include_hidden": True},
    ):
        want = {
            (r.path, r.size)
            for r in list_files_df(spark, str(tmp_path), **kwargs).collect()
        }
        got = {
            (r.path, r.size)
            for r in list_files_df_distributed(
                spark, str(tmp_path), fanout_depth=2, **kwargs
            ).collect()
        }
        assert got == want, kwargs
    # fanout deeper than the tree still works (frontier empties early)
    got = {
        os.path.basename(r.path)
        for r in list_files_df_distributed(
            spark, str(tmp_path), extensions=(".warc.gz",), fanout_depth=10
        ).collect()
    }
    assert got == {"top.warc.gz", "mid.warc.gz", "old.warc.gz", "deep.warc.gz"}

    # AUTO route: past the threshold list_files_df hands off to the
    # distributed walk — same result set, RDD-backed plan
    auto = list_files_df(spark, str(tmp_path), auto_distribute_threshold=1)
    assert {
        (r.path, r.size) for r in auto.collect()
    } == {(r.path, r.size) for r in list_files_df(spark, str(tmp_path)).collect()}
    assert "ExistingRDD" in auto._jdf.queryExecution().toString()

    # URI roots keep their scheme end-to-end: frontier subtrees are
    # re-prefixed before the worker resolves them (a schemeless resolve
    # would fall back to LocalFileSystem on hdfs/s3 and silently return
    # partial results), and returned paths are full URIs
    uri = {
        r.path
        for r in list_files_df(
            spark, f"file://{tmp_path}", extensions=(".warc.gz",)
        ).collect()
    }
    assert uri == {
        f"file://{tmp_path}/top.warc.gz",
        f"file://{tmp_path}/a/mid.warc.gz",
        f"file://{tmp_path}/a/old.warc.gz",
        f"file://{tmp_path}/a/b/c/d/deep.warc.gz",
    }


def test_walk_subtree_root_failure_raises(tmp_path):
    """A frontier subtree the worker cannot list must RAISE, not silently
    drop its files from the result."""
    import pytest as _pytest

    from ia_hadoop_tools_spark.sources.listing import _walk_subtree

    with _pytest.raises(OSError, match="silently partial"):
        list(
            _walk_subtree(
                str(tmp_path / "never-existed"), "", (), False, None, None, None
            )
        )


def test_cdxj_roundtrip_and_format(spark):
    """CDXJ emission format (urlkey ts {json-with-nulls-omitted}) and the
    parse_cdxj(cdx_to_cdxj(x)) == x contract, including a redirect with
    spaces (must survive via the 3-way split)."""
    import json

    from ia_hadoop_tools_spark.operators.parse import (
        cdx_to_cdxj,
        parse_cdx,
        parse_cdxj,
    )

    lines = [
        "com,x)/p 20200101000000 http://x.com/p text/html 200 DIG "
        "http://x.com/redir with spaces - 55 1234 f.warc.gz",
        "com,y)/ 20200101000001 http://y.com/ warc/revisit - DIG2 - - - 99 g.warc.gz",
    ]
    df = spark.createDataFrame([(l,) for l in lines], "value: string")
    typed = parse_cdx(df)
    cdxj = cdx_to_cdxj(typed).collect()
    head = [r.value for r in cdxj if r.value.startswith("com,x)/p ")][0]
    key, ts, obj = head.split(" ", 2)
    assert (key, ts) == ("com,x)/p", "20200101000000")
    j = json.loads(obj)
    assert j["redirect"] == "http://x.com/redir with spaces"
    assert j["status"] == "200" and j["length"] == "55"
    assert "meta" not in j  # null field omitted
    back = parse_cdxj(cdx_to_cdxj(typed))
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, typed.collect())
    )
    assert back.schema == typed.schema


def test_list_files_df_skips_dangling_symlink(spark, tmp_path):
    """Review repro: one stale symlink (or a file deleted between the walk
    and the stat) used to kill the whole driver-side enumeration."""
    import os as _os

    from ia_hadoop_tools_spark.sources.listing import list_files_df

    (tmp_path / "a.warc").write_bytes(b"x" * 10)
    _os.symlink(str(tmp_path / "missing-target"), str(tmp_path / "dead.warc"))
    rows = list_files_df(spark, str(tmp_path)).collect()
    assert [_os.path.basename(r.path) for r in rows] == ["a.warc"]


def test_fsio_rename_rejects_cross_filesystem(tmp_path, monkeypatch):
    """Review repro: rename always moved on the SRC's filesystem, so a dst
    on another filesystem was silently misplaced (local './bucket/key'
    instead of s3) — it must raise instead."""
    import pytest as _pytest
    from pyarrow import fs as pafs

    from ia_hadoop_tools_spark.sources import fsio

    src = tmp_path / "a.TMP"
    src.write_text("x")
    real = fsio.resolve

    def fake(path, filesystem=None):
        if str(path).startswith("fake-remote://"):
            return (
                pafs.SubTreeFileSystem(str(tmp_path), pafs.LocalFileSystem()),
                "y",
            )
        return real(path, filesystem)

    monkeypatch.setattr(fsio, "resolve", fake)
    with _pytest.raises(ValueError, match="different filesystems"):
        fsio.rename(str(src), "fake-remote://bucket/y")
    # same-filesystem rename still works, scheme'd or bare
    fsio.rename(str(src), str(tmp_path / "b.txt"))
    assert (tmp_path / "b.txt").read_text() == "x"


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001


def test_cdx_index_pipeline_tokenizes_each_line_once(cdx_lines_df):
    """Filters on parse_cdx's typed columns must not re-split the line:
    Catalyst pushes a predicate through a plain projection by substituting
    the tokenizer into it (52 copies in this pipeline before the barrier).
    Two are left: the projection and the token-count filter."""
    from ia_hadoop_tools_spark.operators.filters import (
        cdx_filter,
        global_wayback_filter,
    )

    plan = _optimized(global_wayback_filter(cdx_filter(parse_cdx(cdx_lines_df))))
    assert plan.count("regexp_replace(") <= 2, plan
    assert plan.count("split(") <= 2, plan


def test_crawllog_filters_tokenize_each_line_once(spark):
    df = spark.createDataFrame([(CRAWLLOG_LINE,)], "value: string")
    out = (
        parse_crawllog(df)
        .filter("status = 200")
        .filter("size > 0")
        .filter("content_type LIKE 'text/%'")
        .filter("annotations IS NOT NULL")
    )
    plan = _optimized(out)
    assert plan.count("regexp_replace(") <= 2, plan
    assert out.count() == 1
