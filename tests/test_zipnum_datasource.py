"""ZipNum Python DataSource tests (spark.read.format('zipnum'))."""

from __future__ import annotations

import logging
import os

from pyspark.sql import functions as F

from ia_hadoop_tools_spark.sources.zipnum import (
    plan_blocks,
    write_zipnum,
    zipnum_range,
)
from ia_hadoop_tools_spark.sources.zipnum_datasource import (
    ZipNumReader,
    register_zipnum,
)


def _lines(n):
    return [f"k{i:04d} 2020010100{i % 100:02d}00 payload-{i}" for i in range(n)]


def _cluster(spark, tmp_path, n=300, lpb=30, shards=2):
    out = str(tmp_path / "cluster")
    df = spark.createDataFrame([(l,) for l in _lines(n)], "value: string")
    write_zipnum(df, out, lines_per_block=lpb, num_shards=shards)
    return out


def test_datasource_full_read_matches_codec(spark, tmp_path):
    out = _cluster(spark, tmp_path)
    register_zipnum(spark)
    df = spark.read.format("zipnum").load(out)
    got = sorted(r.value for r in df.collect())
    want = sorted(r.value for r in zipnum_range(spark, out, None, None).collect())
    assert got == want and len(got) == 300
    # urlkey/timestamp columns are the first two CDX fields
    r0 = df.orderBy("urlkey").first()
    assert r0.urlkey == "k0000" and r0.value.startswith("k0000 ")


def test_datasource_range_filter_prunes_and_is_exact(spark, tmp_path):
    out = _cluster(spark, tmp_path)
    register_zipnum(spark)
    df = (
        spark.read.format("zipnum").load(out)
        .filter((F.col("urlkey") >= "k0100") & (F.col("urlkey") < "k0110"))
    )
    got = sorted(r.value for r in df.collect())
    want = sorted(
        l for l in _lines(300) if "k0100" <= l.split(" ", 1)[0] < "k0110"
    )
    assert got == want


def test_plan_blocks_prunes_by_summary():
    summary = [
        (f"k{i:04d}", "part-00000.gz", i * 100, 100) for i in range(0, 100, 10)
    ]
    all_spans = plan_blocks(summary, None, None, 4)
    assert sum(length for _, _, length in all_spans) == 10 * 100
    pruned = plan_blocks(summary, "k0035", "k0055", 4)
    # covering blocks only: k0030 (covers 30-39), k0040, k0050
    assert [off // 1000 for _, off, _ in pruned] == [3, 4, 5]


def test_plan_blocks_rejects_malformed_summaries(spark, tmp_path):
    """Advisor round-5: an out-of-order external summary used to be
    silently mis-pruned (row loss the row-level re-filter cannot repair);
    it must fail loudly instead — in plan_blocks and in zipnum_range,
    which plans through it."""
    import pytest

    def rejects(rows, match):
        with pytest.raises(ValueError, match=match):
            plan_blocks(rows, None, None, 2)
        d = tmp_path / f"bad-{match.replace(' ', '-')}"
        d.mkdir()
        (d / "ALL.summary").write_text(
            "".join(f"{k}\t{s}\t{o}\t{n}\n" for k, s, o, n in rows)
        )
        with pytest.raises(ValueError, match=match):
            zipnum_range(spark, str(d), None, None)

    ok = [(f"k{i:04d}", "s0.gz", i * 100, 100) for i in range(0, 40, 10)]
    assert plan_blocks(ok, None, None, 2)

    offset_regress = list(ok)
    offset_regress[2] = ("k0020", "s0.gz", 50, 100)
    rejects(offset_regress, "offset regressed")

    key_regress = list(ok)
    key_regress[2] = ("k0005", "s0.gz", 2000, 100)
    rejects(key_regress, "key regressed")

    interleaved = [
        ("k0000", "s0.gz", 0, 100),
        ("k0010", "s1.gz", 0, 100),
        ("k0020", "s0.gz", 100, 100),
    ]
    rejects(interleaved, "reappears")


def test_datasource_skip_bad_option(spark, tmp_path, monkeypatch, caplog):
    out = _cluster(spark, tmp_path, n=100, lpb=25, shards=1)
    register_zipnum(spark)
    # corrupt the second member
    import glob

    shard = glob.glob(os.path.join(out, "*.gz"))[0]
    with open(out + "/ALL.summary") as fh:
        idx = [l.split("\t") for l in fh.read().splitlines()]
    off, length = int(idx[1][2]), int(idx[1][3])
    with open(shard, "r+b") as fh:
        fh.seek(off + length // 2)
        fh.write(b"\xff\x00\xff\x00")

    import pytest

    with pytest.raises(Exception):
        spark.read.format("zipnum").load(out).count()
    tolerant = (
        spark.read.format("zipnum").option("skip_bad", "true").load(out)
    )
    assert 50 <= tolerant.count() < 100

    # every block in ONE span: the span is walked member by member, so the
    # corrupt block 2 of 4 costs only its own 25 lines and counts once
    one_span = (
        spark.read.format("zipnum").option("skip_bad", "true")
        .option("num_partitions", "1").load(out)
    )
    assert one_span.count() == 75
    reader = ZipNumReader(
        {"path": out, "skip_bad": "true", "num_partitions": "1"}
    )
    (part,) = reader.partitions()
    assert part.spans == [("part-00000.gz", 0, os.path.getsize(shard))]
    with caplog.at_level(logging.WARNING):
        assert sum(b.num_rows for b in reader.read(part)) == 75
    assert sum("corrupt gzip member" in r.message for r in caplog.records) == 1

    monkeypatch.setattr(
        type(spark.sparkContext), "defaultParallelism", property(lambda sc: 1)
    )
    direct = zipnum_range(spark, out, None, None, skip_bad=True)
    assert len(direct.collect()) == 75
    assert direct.skip_bad_count.value == 1


def test_datasource_le_and_eq_filters_on_block_boundary(spark, tmp_path):
    """Regression: <=/== pruning with a v+"\\x00" end bound pruned blocks
    whose FIRST line matched the filter (summary keys are composite
    "urlkey<space>ts", and ' ' > '\\x00') — silent row loss the row-level
    re-filter could not repair."""
    out = _cluster(spark, tmp_path, n=300, lpb=30, shards=2)
    register_zipnum(spark)
    base = spark.read.format("zipnum").load(out)
    # every key is the FIRST line of some block for lpb=30 boundaries;
    # sweep keys including exact block starts
    for probe in ("k0000", "k0030", "k0060", "k0150", "k0299"):
        eq = base.filter(F.col("urlkey") == probe).count()
        assert eq == 1, f"== {probe} lost rows"
        le = base.filter(F.col("urlkey") <= probe).count()
        want = sum(1 for l in _lines(300) if l.split(" ", 1)[0] <= probe)
        assert le == want, f"<= {probe}: {le} != {want}"


def test_block_lines_does_not_split_on_unicode_line_breaks(spark, tmp_path):
    """A value containing \\x0b / U+2028 must round-trip as ONE row
    (records are framed by \\n only; splitlines() over-split them)."""
    out = str(tmp_path / "weird")
    vals = ["ka 20200101 a\x0bb", "kb 20200101 c d", "kc 20200101 e"]
    df = spark.createDataFrame([(v,) for v in vals], "value: string")
    write_zipnum(df, out, lines_per_block=10, num_shards=1)
    register_zipnum(spark)
    got = sorted(r.value for r in spark.read.format("zipnum").load(out).collect())
    assert got == sorted(vals)
    direct = sorted(
        r.value for r in zipnum_range(spark, out, None, None).collect()
    )
    assert direct == sorted(vals)
