from __future__ import annotations

import gzip
import os

from ia_hadoop_tools_spark.sources.zipnum import (
    read_zipnum,
    write_zipnum,
    zipnum_range,
)


def _lines(n):
    return [f"k{i:04d} 2020010100{i%100:02d}00 payload-{i}" for i in range(n)]


def test_zipnum_roundtrip(spark, tmp_path):
    out = str(tmp_path / "cluster")
    df = spark.createDataFrame([(l,) for l in _lines(250)], "value: string")
    idx = write_zipnum(df, out, lines_per_block=40, num_shards=3)
    # idx side data exists and is consistent
    assert os.path.exists(os.path.join(out, "ALL.summary"))
    assert os.path.exists(os.path.join(out, "manifest.txt"))
    rows = idx.collect()
    assert all(r.length > 0 for r in rows)
    # every gzip member has <= 40 lines and offsets/lengths tile the shard file
    by_shard: dict[str, list] = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r)
    for shard, rs in by_shard.items():
        rs.sort(key=lambda r: r.offset)
        size = os.path.getsize(os.path.join(out, shard))
        assert rs[0].offset == 0
        for a, b in zip(rs, rs[1:]):
            assert a.offset + a.length == b.offset
        assert rs[-1].offset + rs[-1].length == size
        with open(os.path.join(out, shard), "rb") as fh:
            for r in rs:
                fh.seek(r.offset)
                block = gzip.decompress(fh.read(r.length))
                assert 1 <= len(block.decode().splitlines()) <= 40

    back = sorted(r.value for r in read_zipnum(spark, out).collect())
    assert back == sorted(_lines(250))


def test_zipnum_range_prunes_blocks(spark, tmp_path):
    out = str(tmp_path / "cluster")
    df = spark.createDataFrame([(l,) for l in _lines(300)], "value: string")
    write_zipnum(df, out, lines_per_block=30, num_shards=2)
    got = sorted(r.value for r in zipnum_range(spark, out, "k0100", "k0110").collect())
    expect = sorted(l for l in _lines(300) if "k0100" <= l.split(" ", 1)[0] < "k0110")
    assert [g.split()[0] for g in got] == [e.split()[0] for e in expect]


def test_zipnum_range_runs_one_job_one_stage(spark, tmp_path):
    """Blocks are planned on the driver from ALL.summary, so the scan is one
    job of one stage (no summary DataFrame, window or shuffle)."""
    out = str(tmp_path / "cluster")
    df = spark.createDataFrame([(l,) for l in _lines(120)], "value: string")
    write_zipnum(df, out, lines_per_block=20, num_shards=2)
    sc = spark.sparkContext
    group = "zipnum-range-job-probe"
    sc.setJobGroup(group, "exactly one job may appear here")
    try:
        got = zipnum_range(spark, out, "k0030", "k0070").collect()
        jobs = list(sc.statusTracker().getJobIdsForGroup(group) or [])
    finally:
        sc.setJobGroup("", "")
    assert sorted(r.value for r in got) == _lines(120)[30:70]
    assert len(jobs) == 1
    assert len(sc.statusTracker().getJobInfo(jobs[0]).stageIds) == 1


def test_summary_generator_rebuilds_all_summary(spark, tmp_path):
    from ia_hadoop_tools_spark.sources.zipnum import (
        manifest_aggregator,
        summary_generator,
    )

    out = str(tmp_path / "cluster")
    df = spark.createDataFrame([(l,) for l in _lines(200)], "value: string")
    write_zipnum(df, out, lines_per_block=25, num_shards=3)

    with open(os.path.join(out, "ALL.summary")) as fh:
        original = fh.read()
    os.remove(os.path.join(out, "ALL.summary"))

    # per-shard sidecars alone must reconstruct the identical meta-index
    n = summary_generator(out)
    with open(os.path.join(out, "ALL.summary")) as fh:
        rebuilt = fh.read()
    assert rebuilt == original
    assert n == len(original.splitlines())

    # orphan summary (no data file) aborts, as in SummaryGenerator.java:75-79
    open(os.path.join(out, "part-09999.summary"), "w").close()
    import pytest as _pytest

    with _pytest.raises(IOError):
        summary_generator(out)
    os.remove(os.path.join(out, "part-09999.summary"))

    p = manifest_aggregator(out, ["b.warc.gz", "a.warc.gz", "b.warc.gz"])
    with open(p) as fh:
        assert fh.read().splitlines() == ["a.warc.gz", "b.warc.gz"]


def test_skip_bad_salvages_corrupt_member(spark, tmp_path):
    """Corrupt one member mid-cluster: strict read raises; skip_bad reads the
    remainder, salvages the bad member's prefix lines, and counts the skip
    (GZIPRangeLineDereferencingRecordReader.java:94-109 tolerance)."""
    import pytest

    out = str(tmp_path / "cluster")
    df = spark.createDataFrame([(l,) for l in _lines(200)], "value: string")
    idx = sorted(
        write_zipnum(df, out, lines_per_block=25, num_shards=2).collect(),
        key=lambda r: (r.shard, r.offset),
    )
    victim = idx[2]  # a mid-shard member
    path = os.path.join(out, victim.shard)
    with open(path, "r+b") as fh:
        # flip bytes in the middle of the member's DEFLATE stream
        fh.seek(victim.offset + victim.length // 2)
        fh.write(b"\xff\x00\xff\x00")

    with pytest.raises(Exception):
        read_zipnum(spark, out).count()

    good_members = [r for r in idx if not (r.shard == victim.shard and r.offset == victim.offset)]
    tolerant = read_zipnum(spark, out, skip_bad=True)
    got = sorted(r.value for r in tolerant.collect())
    assert tolerant.skip_bad_count.value == 1
    # all lines from intact members survive; salvaged prefix may add a few
    n_good = sum(1 for _ in good_members) * 25
    assert n_good <= len(got) < 200
    intact_first = min(r.summary_key for r in good_members).split(" ")[0]
    assert any(g.startswith(intact_first) for g in got)


def test_skip_bad_handles_truncated_tail(spark, tmp_path):
    """Truncating the last member ends the shard early instead of failing."""
    out = str(tmp_path / "cluster")
    df = spark.createDataFrame([(l,) for l in _lines(100)], "value: string")
    idx = sorted(
        write_zipnum(df, out, lines_per_block=30, num_shards=1).collect(),
        key=lambda r: r.offset,
    )
    last = idx[-1]
    path = os.path.join(out, last.shard)
    os.truncate(path, last.offset + last.length // 2)

    tolerant = read_zipnum(spark, out, skip_bad=True)
    got = [r.value for r in tolerant.collect()]
    assert tolerant.skip_bad_count.value == 1
    assert sum(1 for r in idx[:-1]) * 30 <= len(got) < 100


# The reference's own CDX lines (pig/CDXLoaderTest.java:60,87 — urlkey,
# timestamp, and the full 11-field body).
REFERENCE_CDX_LINES = [
    "101,78,123,109)/robots.txt 20120103084508 http://109.123.78.101/robots.txt"
    " text/html 404 22RZA2NQT3RZUCQYJYZDPVZRNYIR72SN - - 561 55426267"
    " WIDE-20120103083324-crawl410/WIDE-20120103083324-00000.warc.gz",
    "131,125,136,219)/ 20120103084049 http://219.136.125.131/ text/html 302"
    " 3I42H3S6NNFQ2MSVX7XZKYAYSCX5QBYJ http://219.136.125.131/selfLogon.do?hoge=1 2"
    " - 449 34133512 WIDE-20120103083324-crawl410/WIDE-20120103083324-00000.warc.gz",
    "de,nuernberger)/rente 20110129033909 http://www.nuernberger.de/rente/"
    " text/html 200 COWKAOTVKBT6YVW26BLW7T235FAWRSUR x - 581 468301945"
    " COM-20110129023303-crawl306/COM-20110129025311-00174.warc.gz",
    "org,example)/a 20200101000000 http://example.org/a text/html 200 D - - 1 2 f.warc.gz",
    "org,example)/b 20200101000001 http://example.org/b text/html 200 D - - 1 2 f.warc.gz",
]


def test_zipnum_golden_byte_format(spark, tmp_path):
    """Byte-format parity against hand-computed values: the shard file must be
    the exact concatenation of per-block gzip members (ZipNumRecordWriter.java:
    119-201), idx offsets/lengths the cumulative sums, and summary keys the
    first two CDX fields."""
    out = str(tmp_path / "golden")
    df = spark.createDataFrame(
        [(l,) for l in REFERENCE_CDX_LINES], "value: string"
    )
    idx = sorted(
        write_zipnum(df, out, lines_per_block=2, num_shards=1).collect(),
        key=lambda r: r.offset,
    )

    # hand-compute the expected members: sorted lines, 2 per gzip member
    lines = sorted(REFERENCE_CDX_LINES)
    blocks = [lines[i : i + 2] for i in range(0, len(lines), 2)]
    members = [
        gzip.compress(("".join(l + "\n" for l in b)).encode(), mtime=0)
        for b in blocks
    ]

    shard_path = os.path.join(out, idx[0].shard)
    with open(shard_path, "rb") as fh:
        assert fh.read() == b"".join(members)

    assert len(idx) == len(blocks) == 3
    off = 0
    for r, b, m in zip(idx, blocks, members):
        assert r.offset == off
        assert r.length == len(m)
        assert r.summary_key == " ".join(b[0].split(" ", 2)[:2])
        off += len(m)

    # ALL.summary lines mirror the idx rows exactly (tab-separated)
    with open(os.path.join(out, "ALL.summary")) as fh:
        got = [l.rstrip("\n").split("\t") for l in fh]
    assert got == [
        [r.summary_key, r.shard, str(r.offset), str(r.length)] for r in idx
    ]


def test_summary_key_tab_escaping():
    from ia_hadoop_tools_spark.sources.zipnum import _summary_key

    # tabs inside the key are %09-escaped (ZipNumRecordWriter.java:94-112)
    assert _summary_key("k\ta 20200101000000 rest") == "k%09a 20200101000000"

def test_zipnum_roundtrip_file_uri(spark, tmp_path):
    """The whole write/read path accepts a file:// URI — proves every I/O
    goes through the fsio abstraction (pyarrow.fs), not bare open(): the
    same code path serves hdfs:// and s3:// on a real cluster."""
    out = "file://" + str(tmp_path / "uri_cluster")
    data = _lines(120)
    df = spark.createDataFrame([(l,) for l in data], "value: string")
    write_zipnum(df, out, lines_per_block=25, num_shards=2)
    assert os.path.exists(str(tmp_path / "uri_cluster" / "ALL.summary"))
    back = sorted(r.value for r in read_zipnum(spark, out).collect())
    assert back == sorted(data)
    ranged = sorted(
        r.value for r in zipnum_range(spark, out, "k0010", "k0020").collect()
    )
    assert [r.split()[0] for r in ranged] == [f"k{i:04d}" for i in range(10, 20)]


def test_zipnum_explicit_filesystem_object(spark, tmp_path):
    """An explicit pyarrow FileSystem (here a SubTreeFileSystem) flows
    through writer closures and readers — the seam for custom FS impls."""
    from pyarrow import fs as pafs

    root = tmp_path / "subtree"
    root.mkdir()
    sub = pafs.SubTreeFileSystem(str(root), pafs.LocalFileSystem())
    data = _lines(60)
    df = spark.createDataFrame([(l,) for l in data], "value: string")
    write_zipnum(df, "c1", lines_per_block=20, num_shards=1, filesystem=sub)
    assert (root / "c1" / "ALL.summary").exists()
    back = sorted(
        r.value for r in read_zipnum(spark, "c1", filesystem=sub).collect()
    )
    assert back == sorted(data)


def test_zipnum_rerun_with_fewer_shards_drops_stale_sidecars(spark, tmp_path):
    """Re-running write_zipnum into a non-empty dir with fewer shards must
    scope ALL.summary/manifest.txt to THIS job's shards — globbing the dir
    would merge the previous run's stale part-00002+ sidecars into the
    cluster metadata (silent corruption)."""
    out = str(tmp_path / "cluster")
    df = spark.createDataFrame([(l,) for l in _lines(300)], "value: string")
    write_zipnum(df, out, lines_per_block=30, num_shards=4)
    # second run: same data, HALF the shards
    write_zipnum(df, out, lines_per_block=30, num_shards=2)
    with open(os.path.join(out, "ALL.summary")) as fh:
        shards_in_summary = {line.split("\t")[1] for line in fh}
    assert shards_in_summary == {"part-00000.gz", "part-00001.gz"}
    with open(os.path.join(out, "manifest.txt")) as fh:
        manifest = [l.strip() for l in fh if l.strip()]
    assert manifest == ["part-00000.gz", "part-00001.gz"]
    # the summary-driven reader sees exactly one copy of the data
    back = sorted(r.value for r in read_zipnum(spark, out).collect())
    assert back == sorted(_lines(300))
    # and the stale part-0000[23] data/sidecar files are physically gone:
    # the directory IS the cluster after a rerun
    on_disk = {f for f in os.listdir(out) if f.startswith("part-")}
    assert on_disk == {
        "part-00000.gz", "part-00000.summary",
        "part-00001.gz", "part-00001.summary",
    }


def _hand_shard(tmp_path, n_blocks=4, lines_per_block=25):
    """One shard of n_blocks gzip members, written without Spark; returns
    (shard path, per-block lines, per-block member bytes)."""
    data = _lines(n_blocks * lines_per_block)
    blocks = [
        data[i : i + lines_per_block]
        for i in range(0, len(data), lines_per_block)
    ]
    members = [
        gzip.compress("".join(l + "\n" for l in b).encode(), mtime=0)
        for b in blocks
    ]
    path = tmp_path / "part-00000.gz"
    path.write_bytes(b"".join(members))
    return str(path), blocks, members


def test_span_is_streamed_in_bounded_reads(tmp_path, monkeypatch):
    """A span of many blocks is read from ONE open shard in reads no larger
    than READ_CHUNK_BYTES (here below one block), never as one span-sized
    buffer; members straddling reads come back whole."""
    from pyarrow import fs as pafs

    from ia_hadoop_tools_spark.sources import zipnum
    from ia_hadoop_tools_spark.sources.zipnum import read_block_lines

    path, blocks, members = _hand_shard(tmp_path)
    chunk = min(map(len, members)) // 3
    monkeypatch.setattr(zipnum, "READ_CHUNK_BYTES", chunk)
    opens, reads = [], []

    class RecordingFS:
        def open_input_file(self, p):
            opens.append(p)
            fh = pafs.LocalFileSystem().open_input_file(p)
            real_read = fh.read

            class Handle:
                def __enter__(self):
                    return self

                def __exit__(self, *exc):
                    fh.close()

                def seek(self, off):
                    fh.seek(off)

                def read(self, n):
                    reads.append(n)
                    return real_read(n)

            return Handle()

    span = ("part-00000.gz", 0, sum(map(len, members)))
    got = list(
        read_block_lines(str(tmp_path), [span], None, None,
                         filesystem=RecordingFS())
    )
    assert got == blocks
    assert len(opens) == 1
    assert max(reads) <= chunk and sum(reads) == span[2]


def test_member_walk_resyncs_after_a_corrupt_member():
    """gzip_members: a corrupt member is reported once with no text, the
    walk resumes at the next member header (here split across reads), and
    a stream cut mid-member keeps that member's complete lines."""
    from ia_hadoop_tools_spark.sources.zipnum import gzip_members

    blocks = [_lines(100)[i : i + 25] for i in range(0, 100, 25)]
    members = [
        gzip.compress("".join(l + "\n" for l in b).encode(), mtime=0)
        for b in blocks
    ]
    bad = bytearray(members[1])
    bad[len(bad) // 2 : len(bad) // 2 + 4] = b"\xff\x00\xff\x00"
    stream = members[0] + bytes(bad) + members[2] + members[3]
    cut = len(members[0]) + len(bad) + 1  # split the next header
    walked = list(gzip_members([stream[:cut], stream[cut:]]))
    assert [(off, clean) for off, _t, clean in walked] == [
        (0, True),
        (len(members[0]), False),
        (len(members[0]) + len(bad), True),
        (len(members[0]) + len(bad) + len(members[2]), True),
    ]
    assert walked[1][1] == ""
    assert [t for _o, t, _c in walked[2:]] == [
        "".join(l + "\n" for l in b) for b in blocks[2:]
    ]

    head = members[0] + members[1][: len(members[1]) // 2]
    *whole, (_off, partial, clean) = gzip_members([head])
    assert [c for _o, _t, c in whole] == [True]
    assert not clean and partial.endswith("\n")
    assert partial.splitlines() == blocks[1][: partial.count("\n")]


def test_short_shard_counts_one_bad_block(tmp_path):
    """A shard shorter than its summary says is reported once, whether it
    ends at a member boundary (a missing block) or inside a member (a cut
    one, whose complete lines are kept)."""
    import pytest

    from ia_hadoop_tools_spark.sources.zipnum import read_block_lines

    class Acc:
        value = 0

        def add(self, n):
            self.value += n

    path, blocks, members = _hand_shard(tmp_path)
    span = ("part-00000.gz", 0, sum(map(len, members)))
    three = sum(map(len, members[:3]))
    for cut, lo, hi in [
        (three, 75, 75),
        (three + len(members[3]) // 2, 75, 99),
    ]:
        os.truncate(path, cut)
        with pytest.raises(OSError):
            list(read_block_lines(str(tmp_path), [span], None, None))
        acc = Acc()
        got = read_block_lines(
            str(tmp_path), [span], None, None, skip_bad=True, bad_acc=acc
        )
        assert lo <= sum(map(len, got)) <= hi
        assert acc.value == 1
