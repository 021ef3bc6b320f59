from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from ia_hadoop_tools_spark.operators.cluster import build_cluster, cluster_range, write_cluster
from ia_hadoop_tools_spark.operators.merge import merge_clusters
from ia_hadoop_tools_spark.operators.setops import merge_manifests, work_queue
from ia_hadoop_tools_spark.plans.partitioning import assign_range_ids, write_named_shards


def _mk(spark, keys):
    return spark.createDataFrame(
        [(k, f"202001010000{i%60:02d}") for i, k in enumerate(keys)],
        "urlkey: string, timestamp: string",
    )


def test_build_cluster_sorted_partitions(spark):
    df = _mk(spark, [f"k{i:03d}" for i in range(100)])
    out = build_cluster(df, num_ranges=4)
    # partitions are range-contiguous and internally sorted
    parts = out.withColumn("pid", F.spark_partition_id())
    agg = parts.groupBy("pid").agg(
        F.min("urlkey").alias("lo"), F.max("urlkey").alias("hi")
    ).orderBy("lo").collect()
    for a, b in zip(agg, agg[1:]):
        assert a["hi"] <= b["lo"]


def test_cluster_range_bounds(spark, tmp_path):
    df = _mk(spark, [f"k{i:03d}" for i in range(100)])
    path = str(tmp_path / "cluster")
    write_cluster(df, path, num_ranges=4)
    got = [r.urlkey for r in cluster_range(path, "k010", "k020", spark=spark).collect()]
    assert got == [f"k{i:03d}" for i in range(10, 20)]
    # open bounds
    assert cluster_range(path, None, "k005", spark=spark).count() == 5
    assert cluster_range(path, "k095", None, spark=spark).count() == 5


def test_merge_clusters_dedup_and_daylimit(spark):
    c1 = _mk(spark, ["a", "a", "b"])
    c2 = _mk(spark, ["b", "c"])
    merged = merge_clusters([c1, c2], dedup=True, num_ranges=2)
    # no exact-duplicate (urlkey, timestamp) rows across c1/c2 -> all 5 survive
    assert merged.count() == 5
    keys = [r.urlkey for r in merged.sort("urlkey", "timestamp").collect()]
    assert keys == sorted(keys)

    capped = merge_clusters([c1, c2], daily_limit=1, num_ranges=2)
    assert capped.groupBy("urlkey").count().agg(F.max("count")).collect()[0][0] == 1


def test_work_queue_and_manifest(spark):
    staged = spark.createDataFrame(
        [("f1", "/p/f1"), ("f2", "/p/f2"), ("f3", "/p/f3")], "basename: string, path: string"
    )
    included = spark.createDataFrame([("f1",), ("fX",)], "basename: string")
    todo = sorted(r.basename for r in work_queue(staged, included).collect())
    assert todo == ["f2", "f3"]

    m1 = spark.createDataFrame([("a",), ("b",)], "basename: string")
    m2 = spark.createDataFrame([("b",), ("c",)], "basename: string")
    assert [r.basename for r in merge_manifests([m1, m2]).collect()] == ["a", "b", "c"]


def test_assign_range_ids_and_named_shards(spark, tmp_path):
    df = _mk(spark, ["a1", "b1", "c1", "d1"])
    out = assign_range_ids(df, ["a", "c"], key_col="urlkey")
    got = {r.urlkey: r.range_id for r in out.collect()}
    assert got == {"a1": 0, "b1": 0, "c1": 1, "d1": 1}

    path = str(tmp_path / "shards")
    write_named_shards(
        df, path, [("part-a", "a", "c"), ("part-c", "c", "e")], key_col="urlkey"
    )
    shards = {d.split("=")[1] for d in os.listdir(path) if d.startswith("shard=")}
    assert shards == {"part-a", "part-c"}
    back = spark.read.parquet(path)
    by_shard = {
        r["shard"]: r["keys"]
        for r in back.groupBy("shard").agg(F.sort_array(F.collect_list("urlkey")).alias("keys")).collect()
    }
    assert by_shard == {"part-a": ["a1", "b1"], "part-c": ["c1", "d1"]}


def test_named_shards_drop_gap_keys(spark, tmp_path):
    """Keys in the gap between one split's end and the next split's start are
    dropped, not routed into the preceding shard — each shard holds exactly
    its [start, end)."""
    df = _mk(spark, ["a1", "b9", "c1", "d1", "e5"])
    path = str(tmp_path / "shards")
    # gap between 'b' (end of part-a) and 'c' (start of part-c); e5 beyond end
    write_named_shards(
        df, path, [("part-a", "a", "b"), ("part-c", "c", "e")], key_col="urlkey"
    )
    back = spark.read.parquet(path)
    by_shard = {
        r["shard"]: r["keys"]
        for r in back.groupBy("shard")
        .agg(F.sort_array(F.collect_list("urlkey")).alias("keys"))
        .collect()
    }
    assert by_shard == {"part-a": ["a1"], "part-c": ["c1", "d1"]}


def test_incremental_merge_cycle(spark, tmp_path):
    """STAGED - INCLUDED drives the merge; bookkeeping advances
    (streaming/incremental.py, cdx/notes.txt:19-36 semantics)."""
    from ia_hadoop_tools_spark.streaming.incremental import incremental_merge_cycle

    batches = {
        "a.cdx": [("k1", "20200101000000"), ("k3", "20200101000001")],
        "b.cdx": [("k2", "20200102000000")],
    }
    for name, rows in batches.items():
        spark.createDataFrame(rows, "urlkey: string, timestamp: string").write.parquet(
            str(tmp_path / name)
        )

    staged = spark.createDataFrame(
        [(n, str(tmp_path / n)) for n in batches], "basename: string, path: string"
    )
    included = spark.createDataFrame([("a.cdx",)], "basename: string")
    existing = spark.createDataFrame(
        batches["a.cdx"], "urlkey: string, timestamp: string"
    )

    merged, new_included = incremental_merge_cycle(
        spark, staged, included,
        read_source=lambda s, p: s.read.parquet(p),
        existing_cluster=existing,
    )
    # only b.cdx was outstanding -> merged = existing + b rows
    assert sorted(r.urlkey for r in merged.collect()) == ["k1", "k2", "k3"]
    assert sorted(r.basename for r in new_included.collect()) == ["a.cdx", "b.cdx"]

    # second cycle: everything included -> no-op, same objects back
    merged2, included2 = incremental_merge_cycle(
        spark, staged, new_included,
        read_source=lambda s, p: s.read.parquet(p),
        existing_cluster=merged,
    )
    assert merged2 is merged and included2 is new_included


def test_named_shards_files_are_sorted(spark, tmp_path):
    """Review repro (verified live): the partitionBy('shard') write makes
    V1Writes insert a Sort on [shard] and EliminateSorts DELETED a user
    sort lacking the shard prefix — files came back unsorted, silently
    breaking the sorted-shard cluster invariant."""
    import random as _random

    rng = _random.Random(5)
    keys = [f"k{rng.randrange(2000):04d}" for _ in range(2000)]
    df = spark.createDataFrame(
        [(k, f"2020{i % 99:02d}") for i, k in enumerate(keys)],
        "urlkey string, timestamp string",
    ).repartition(8)
    out = str(tmp_path / "sorted_shards")
    write_named_shards(
        df, out, [("pa", "k0000", "k1000"), ("pb", "k1000", "k9999")]
    )
    import glob as _glob

    for shard in ("pa", "pb"):
        files = _glob.glob(f"{out}/shard={shard}/*.parquet")
        assert files
        for f in files:
            rows = [
                (r.urlkey, r.timestamp)
                for r in spark.read.parquet(f).collect()
            ]
            assert rows == sorted(rows), f"unsorted shard file {f}"


def test_named_shards_validation_errors(spark, tmp_path):
    import pytest

    df = spark.createDataFrame([("k1", "2020")], "urlkey string, timestamp string")
    with pytest.raises(ValueError, match="at least one split"):
        write_named_shards(df, str(tmp_path / "x"), [])
    with pytest.raises(ValueError, match="non-null start"):
        write_named_shards(df, str(tmp_path / "y"), [("a", None, "c")])


def test_merge_clusters_daylimit_needs_two_sort_cols(spark):
    import pytest

    df = spark.createDataFrame([("k", "20200101000000")], "k string, ts string")
    with pytest.raises(ValueError, match="sort_cols"):
        merge_clusters([df], daily_limit=2, sort_cols=("k",))


def test_parse_splitfile_file_and_list_paths_agree(spark, tmp_path):
    """Review repro: the 3-column CSV read silently truncated a 4-token
    line (shard name with a space) that the in-memory path rejected —
    both entry points must tokenize identically and raise loudly."""
    import pytest

    from ia_hadoop_tools_spark.plans.partitioning import parse_splitfile

    good = tmp_path / "good.split"
    good.write_text("pa a0 m0\npb m0 z0\n")
    assert parse_splitfile(spark, str(good)) == [
        ("pa", "a0", "m0"), ("pb", "m0", "z0"),
    ]

    bad = tmp_path / "bad.split"
    bad.write_text("part 00 aaa bbb\n")
    with pytest.raises(ValueError, match="malformed split-file"):
        parse_splitfile(spark, str(bad))
    with pytest.raises(ValueError, match="malformed split-file"):
        parse_splitfile(spark, ["part 00 aaa bbb"])


def test_named_shards_reject_duplicate_starts(spark, tmp_path):
    """Two splits sharing a start key would route every row to the LAST
    one, silently emptying the earlier-named shard."""
    import pytest

    df = spark.createDataFrame(
        [("k1", "2020")], "urlkey string, timestamp string"
    )
    with pytest.raises(ValueError, match="duplicate split start"):
        write_named_shards(
            df, str(tmp_path / "d"), [("A", "k", "m"), ("B", "k", "z")]
        )


def test_incremental_cycle_dedups_staged_basenames(spark, tmp_path):
    """Review repro: a basename staged TWICE (re-listed across staging
    runs) was read and merged twice — every record silently duplicated
    while the INCLUDED bookkeeping looked correct."""
    from ia_hadoop_tools_spark.streaming.incremental import (
        incremental_merge_cycle,
    )

    rows = [("k1", "20200101000000"), ("k2", "20200101000001")]
    spark.createDataFrame(
        rows, "urlkey: string, timestamp: string"
    ).write.parquet(str(tmp_path / "a.cdx"))

    staged = spark.createDataFrame(
        [("a.cdx", str(tmp_path / "a.cdx"))] * 2,  # duplicate staging row
        "basename: string, path: string",
    )
    included = spark.createDataFrame([], "basename: string")
    merged, new_included = incremental_merge_cycle(
        spark, staged, included,
        read_source=lambda s, p: s.read.parquet(p),
        existing_cluster=None,
    )
    assert sorted(r.urlkey for r in merged.collect()) == ["k1", "k2"]
    assert [r.basename for r in new_included.collect()] == ["a.cdx"]


def _executed_shuffles(df) -> list[str]:
    """The shuffle Exchanges of ``df``'s executed (final adaptive) plan."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().executedPlan()  # noqa: SLF001
    return re.findall(r"(?<!Broadcast)Exchange (.*)", plan.toString())


def _burst_clusters(spark):
    """Two inputs: one hot key holding most rows in same-second bursts,
    duplicates across the inputs, and cold keys over several days."""
    rows = []
    for i in range(60):  # hot key, 3 days, 2-row same-second bursts
        rows.append(("hot", f"2020010{1 + i % 3}0000{i // 6:02d}", f"d{i % 4}", i % 7))
    for k in range(12):
        for j in range(3):
            rows.append((f"k{k:02d}", f"2020010{1 + j}120000", None if j else "x", j))
    schema = "urlkey: string, timestamp: string, digest: string, offset: long"
    c1 = spark.createDataFrame(rows[::2] + rows[:10], schema)
    c2 = spark.createDataFrame(rows[1::2] + rows[:10] + rows[-5:], schema)
    return c1, c2


def _py_merge(rows, dedup, daily_limit):
    """Plain-Python merge: dedup, then day_limit's default order
    (timestamp, then the other columns by name, nulls first)."""
    if dedup:
        rows = sorted(set(rows), key=repr)
    if not daily_limit:
        return sorted(rows, key=repr)
    cols = ("urlkey", "timestamp", "digest", "offset")
    ties = sorted(c for c in cols if c not in ("urlkey", "timestamp"))

    def order(r):
        d = dict(zip(cols, r))
        return [d["timestamp"]] + [(d[c] is not None, d[c]) for c in ties]

    groups = {}
    for r in rows:
        groups.setdefault((r[0], r[1][:8]), []).append(r)
    kept = [r for g in groups.values() for r in sorted(g, key=order)[:daily_limit]]
    return sorted(kept, key=repr)


def _files_sorted_and_key_disjoint(path) -> bool:
    import pyarrow.parquet as pq

    ranges = []
    for f in sorted(os.listdir(path)):
        if not f.endswith(".parquet"):
            continue
        t = pq.read_table(os.path.join(path, f), columns=["urlkey", "timestamp"])
        keys = list(zip(t.column("urlkey").to_pylist(), t.column("timestamp").to_pylist()))
        if not keys:
            continue
        if keys != sorted(keys):
            return False
        ranges.append((keys[0][0], keys[-1][0]))
    ranges.sort()
    return all(a[1] < b[0] for a, b in zip(ranges, ranges[1:]))


@pytest.mark.parametrize(
    "dedup,daily_limit", [(True, 2), (False, 2), (True, None)]
)
def test_merge_one_shuffle_matches_python_reference(spark, tmp_path, dedup, daily_limit):
    """With dedup or a day limit the merge range-partitions once on the key
    and dedup + the day-limit window reuse that partitioning: one Exchange.
    Rows equal a plain-Python merge; every file is sorted and no key
    straddles two files, even with one key holding most rows."""
    c1, c2 = _burst_clusters(spark)
    inputs = [tuple(r) for r in c1.collect() + c2.collect()]
    merged = merge_clusters([c1, c2], dedup=dedup, daily_limit=daily_limit, num_ranges=4)
    shuffles = _executed_shuffles(merged)
    assert len(shuffles) == 1, shuffles
    assert shuffles[0].startswith("rangepartitioning(urlkey"), shuffles
    assert "timestamp" not in shuffles[0], shuffles
    got = sorted((tuple(r) for r in merged.collect()), key=repr)
    assert got == _py_merge(inputs, dedup, daily_limit)
    out = str(tmp_path / "merged")
    merged.write.parquet(out)
    assert _files_sorted_and_key_disjoint(out)


def test_merge_without_dedup_or_daylimit_keeps_build_cluster_plan(spark):
    """Neither option: the merge is build_cluster of the union — one range
    shuffle on every sort column."""
    c1, c2 = _burst_clusters(spark)
    merged = merge_clusters([c1, c2], num_ranges=4)
    shuffles = _executed_shuffles(merged)
    assert len(shuffles) == 1, shuffles
    assert re.match(r"rangepartitioning\(urlkey#\d+ ASC NULLS FIRST, timestamp", shuffles[0])
    assert merged.count() == c1.count() + c2.count()
