"""Atomic versioned corpus assembly (operators/assemble.py): the
split -> shuffle -> pack composition published under the _PUBLISHED
protocol.  The contract under test: a version replays content-
identically from the same inputs + params, extension publishes a new
version while old docs keep their split/shard, and uncommitted versions
are never readable."""

from __future__ import annotations

import glob
import json
import os

import pyarrow.parquet as pq
import pytest

from ia_hadoop_tools_spark.operators.assemble import (
    assemble_corpus,
    read_corpus_version,
    read_manifest,
)

SPLITS = [("train", 0.8), ("val", 0.2)]


def _docs(spark, n=300, start=0):
    return spark.createDataFrame(
        [(i, f"doc text number {i}", 5 + i % 37) for i in range(start, start + n)],
        "doc_id: long, text: string, n_tokens: long",
    )


def _shard_rows(vdir: str, split: str) -> dict[int, list[tuple]]:
    """Per-shard (doc_id, pos, ...) rows in FILE ORDER — the replay unit."""
    out = {}
    for sdir in sorted(glob.glob(os.path.join(vdir, f"split={split}", "shard=*"))):
        shard = int(sdir.rsplit("=", 1)[1])
        files = [f for f in os.listdir(sdir) if f.endswith(".parquet")]
        assert len(files) == 1, (sdir, files)  # one sorted file per shard
        t = pq.read_table(os.path.join(sdir, files[0]))
        cols = [c for c in ("doc_id", "pos", "seq_start", "bin") if c in t.column_names]
        out[shard] = list(zip(*[t.column(c).to_pylist() for c in cols]))
    return out


def test_assemble_publish_replay_and_pack_layout(spark, tmp_path):
    root = str(tmp_path / "corpus")
    d = _docs(spark)
    v0 = assemble_corpus(d, root, SPLITS, n_shards=3, seed=5, budget=64)
    assert v0.endswith("v000")
    assert os.path.exists(os.path.join(v0, "_PUBLISHED"))
    man = read_manifest(root)
    assert man["version"] == 0 and sum(man["counts"].values()) == 300
    # packing follows the TRAINING order: per shard, seq_start is the
    # running token sum in pos order and bin = seq_start div budget
    rows = _shard_rows(v0, "train")
    got_train = 0
    for shard, rs in rows.items():
        acc = 0
        ids = set()
        for doc_id, pos, seq_start, b in rs:
            assert seq_start == acc and b == acc // 64
            tok = 5 + doc_id % 37
            acc += tok
            ids.add(doc_id)
        got_train += len(rs)
        assert [r[1] for r in rs] == list(range(len(rs)))  # dense pos order
    assert got_train == man["counts"]["train"]
    # REPLAY: identical inputs + params -> next version, content-identical
    v1 = assemble_corpus(d, root, SPLITS, n_shards=3, seed=5, budget=64)
    assert v1.endswith("v001")
    for split in ("train", "val"):
        assert _shard_rows(v0, split) == _shard_rows(v1, split)
    # reader resolves the newest published version
    latest = read_corpus_version(spark, root, "train")
    assert latest.count() == man["counts"]["train"]


def test_assemble_three_cycle_extend_keeps_old_assignments(spark, tmp_path):
    """assemble -> extend -> re-assemble: the extension's version replays
    bit-identically, and every original doc keeps its (split, shard)."""
    root = str(tmp_path / "corpus3")
    a = _docs(spark, n=200)
    v0 = assemble_corpus(a, root, SPLITS, n_shards=2, seed=11)
    ab = _docs(spark, n=300)  # superset: 200 old + 100 new docs
    v1 = assemble_corpus(ab, root, SPLITS, n_shards=2, seed=11)
    v2 = assemble_corpus(ab, root, SPLITS, n_shards=2, seed=11)
    # replay of the extended corpus is content-identical
    for split in ("train", "val"):
        assert _shard_rows(v1, split) == _shard_rows(v2, split)
    # growth stability: original docs keep split AND shard (positions may
    # shift as new docs interleave — that is inherent to a global order)
    def assignments(vdir):
        out = {}
        for split in ("train", "val"):
            for shard, rs in _shard_rows(vdir, split).items():
                for r in rs:
                    out[r[0]] = (split, shard)
        return out

    a0, a1 = assignments(v0), assignments(v1)
    assert len(a0) == 200 and len(a1) == 300
    assert all(a1[i] == a0[i] for i in a0)
    # v0 is still readable after later publishes
    assert read_corpus_version(spark, root, "train", version=0).count() == \
        read_manifest(root, 0)["counts"]["train"]


def test_assemble_crash_partial_is_unreadable_and_skipped(spark, tmp_path):
    root = str(tmp_path / "corpusx")
    os.makedirs(os.path.join(root, "v000"))  # crashed save: no marker
    with pytest.raises(FileNotFoundError):
        read_corpus_version(spark, root, "train")
    d = _docs(spark, n=50)
    vdir = assemble_corpus(d, root, SPLITS, n_shards=2, seed=1)
    assert vdir.endswith("v001")  # number never reused
    assert read_corpus_version(spark, root, "train").count() == \
        read_manifest(root)["counts"]["train"]
    with pytest.raises(FileNotFoundError):
        read_corpus_version(spark, root, "train", version=0)


def test_assemble_retention_prunes_old_versions(spark, tmp_path):
    root = str(tmp_path / "corpusk")
    d = _docs(spark, n=60)
    assemble_corpus(d, root, SPLITS, n_shards=2, seed=2)
    assemble_corpus(d, root, SPLITS, n_shards=2, seed=2, keep_versions=1)
    assert not os.path.exists(os.path.join(root, "v000"))
    assert os.path.exists(os.path.join(root, "v001", "_PUBLISHED"))


def test_assemble_validates_token_col(spark, tmp_path):
    d = _docs(spark, n=10).drop("n_tokens")
    with pytest.raises(ValueError, match="token column"):
        assemble_corpus(d, str(tmp_path / "c"), SPLITS, n_shards=2, budget=10)


def test_assemble_records_unassigned_and_validates_keep(spark, tmp_path):
    root = str(tmp_path / "corpusu")
    d = _docs(spark, n=100)
    # fractions summing to < 1 leave rows unassigned — that exclusion
    # must be visible in the manifest, not silent
    assemble_corpus(d, root, [("train", 0.5)], n_shards=2, seed=4)
    man = read_manifest(root)
    assert man["counts"]["train"] + man["unassigned"] == 100
    assert man["unassigned"] > 0
    # keep_versions validated BEFORE any work, not after the publish
    with pytest.raises(ValueError, match="keep_versions"):
        assemble_corpus(d, root, [("train", 1.0)], n_shards=2, keep_versions=0)
    # manifests of unpublished versions are refused like the data
    os.makedirs(os.path.join(root, "v007"))
    with pytest.raises(FileNotFoundError):
        read_manifest(root, 7)


def test_assemble_epoch_loop_contract(spark, tmp_path):
    """The multi-epoch training loop: same root/inputs/seed, epoch
    0..2.  Contract: (a) split assignment is invariant across epochs
    (content-addressed on doc_id, epoch salts only the shuffle);
    (b) epochs are DECORRELATED orders, not rotations; (c) every
    epoch's version replays bit-identically from its params; (d)
    keep_versions prunes safely mid-loop (newest versions stay
    readable)."""
    root = str(tmp_path / "corpus_epochs")
    d = _docs(spark, n=240)
    vdirs = [
        assemble_corpus(d, root, SPLITS, n_shards=2, seed=7, epoch=e)
        for e in range(3)
    ]

    def split_assign(vdir):
        out = {}
        for split in ("train", "val"):
            for _shard, rs in _shard_rows(vdir, split).items():
                for r in rs:
                    out[r[0]] = split
        return out

    def train_order(vdir):
        rows = _shard_rows(vdir, "train")
        return [
            r[0]
            for shard in sorted(rows)
            for r in sorted(rows[shard], key=lambda t: t[1])
        ]

    # (a) split-assignment invariance across epochs
    s0 = split_assign(vdirs[0])
    assert len(s0) == 240
    assert all(split_assign(v) == s0 for v in vdirs[1:])
    # (b) order decorrelation: each epoch pair orders train differently
    orders = [train_order(v) for v in vdirs]
    assert orders[0] != orders[1] != orders[2] and orders[0] != orders[2]
    # not a rotation of each other either
    double = orders[0] + orders[0]
    assert all(
        orders[k] != double[i:i + len(orders[0])]
        for k in (1, 2)
        for i in range(len(orders[0]))
    )
    # (c) per-epoch bit-identical replay (new version, same content)
    replay = assemble_corpus(d, root, SPLITS, n_shards=2, seed=7, epoch=1)
    for split in ("train", "val"):
        assert _shard_rows(replay, split) == _shard_rows(vdirs[1], split)
    # (d) prune mid-loop: the epoch-3 publish with keep_versions=2 drops
    # everything but the newest two; those stay independently readable
    assemble_corpus(
        d, root, SPLITS, n_shards=2, seed=7, epoch=3, keep_versions=2
    )
    for gone in ("v000", "v001", "v002"):
        assert not os.path.exists(os.path.join(root, gone))
    for v in (3, 4):
        man = read_manifest(root, v)
        assert read_corpus_version(spark, root, "train", version=v).count() \
            == man["counts"]["train"]
    assert read_manifest(root, 4)["epoch"] == 3


def test_assemble_refuses_concurrent_same_version(spark, tmp_path, monkeypatch):
    """Single-writer protocol: if the chosen version dir already exists
    (a racing assemble picked the same number), fail fast instead of
    overwriting its uncommitted output."""
    from ia_hadoop_tools_spark.streaming import versioned

    root = str(tmp_path / "corpus_race")
    d = _docs(spark, n=20)
    assemble_corpus(d, root, SPLITS, n_shards=2, seed=1)
    monkeypatch.setattr(versioned, "next_version", lambda r: 0)
    with pytest.raises(RuntimeError, match="single-writer"):
        assemble_corpus(d, root, SPLITS, n_shards=2, seed=1)


def test_assemble_pack_waste_hand_computed(spark, tmp_path):
    """pack_waste in the manifest: tail-bin padding per split.  One
    shard, tokens 3+4+5=12, budget 5 -> 3 bins, capacity 15, waste 3."""
    root = str(tmp_path / "corpus_waste")
    d = spark.createDataFrame(
        [(1, "a", 3), (2, "b", 4), (3, "c", 5)],
        "doc_id: long, text: string, n_tokens: long",
    )
    assemble_corpus(d, root, [("train", 1.0)], n_shards=1, seed=0, budget=5)
    man = read_manifest(root)
    assert man["pack_waste"] == {
        "train": {
            "wasted_tokens": 3,
            "capacity_tokens": 15,
            "fraction": 0.2,
        }
    }
    # no packing -> no pack_waste section
    root2 = str(tmp_path / "corpus_nowaste")
    assemble_corpus(d, root2, [("train", 1.0)], n_shards=1, seed=0)
    assert read_manifest(root2)["pack_waste"] is None


def test_assemble_pack_waste_multi_shard_matches_data(spark, tmp_path):
    """Multi-shard waste equals the per-shard tail-bin formula computed
    independently from the written rows."""
    root = str(tmp_path / "corpus_waste2")
    d = _docs(spark, n=120)
    vdir = assemble_corpus(d, root, SPLITS, n_shards=3, seed=5, budget=64)
    man = read_manifest(root)
    for split in ("train", "val"):
        expect = 0
        cap = 0
        for _shard, rs in _shard_rows(vdir, split).items():
            t = sum(5 + doc_id % 37 for doc_id, *_ in rs)
            if rs:
                expect += 64 - ((t - 1) % 64 + 1)
                cap += ((t - 1) // 64 + 1) * 64
        got = man["pack_waste"][split]
        assert got["wasted_tokens"] == expect
        assert got["capacity_tokens"] == cap
        assert got["fraction"] == round(expect / cap, 6)


def test_corpus_version_zipnum_roundtrip(spark, tmp_path):
    """A published version round-trips through the reference's own
    interchange format (ZipNum blocked gzip + idx sidecars), and the
    sorted key layout supports per-split indexed range scans."""
    from ia_hadoop_tools_spark.operators.assemble import (
        export_version_zipnum,
        import_corpus_zipnum,
    )
    from ia_hadoop_tools_spark.sources.zipnum import zipnum_range

    root = str(tmp_path / "corpus_zn")
    d = _docs(spark, n=80)
    vdir = assemble_corpus(d, root, SPLITS, n_shards=2, seed=3, budget=32)
    out = str(tmp_path / "zn_cluster")
    assert export_version_zipnum(spark, root, out) == vdir
    assert os.path.exists(os.path.join(out, "ALL.summary"))
    src = spark.read.option("basePath", vdir).parquet(
        os.path.join(vdir, "split=*")
    )
    payload_cols = [c for c in src.columns if c not in ("split", "shard", "pos")]
    schema = src.select(*payload_cols).schema
    back = import_corpus_zipnum(spark, out, schema)
    key = ["split", "shard", "pos"]
    a = sorted(map(tuple, src.select(*key, *payload_cols).collect()))
    b = sorted(map(tuple, back.select(*key, *payload_cols).collect()))
    assert a == b and len(a) == 80
    # indexed range scan streams exactly one split (':' < ';' bounds)
    tr = zipnum_range(spark, out, "train:", "train;").count()
    assert tr == read_manifest(root)["counts"]["train"]
    # torn saves are refused like every other version reader
    os.makedirs(os.path.join(root, "v009"))
    with pytest.raises(FileNotFoundError):
        export_version_zipnum(spark, root, str(tmp_path / "zn9"), version=9)


def test_export_corpus_zipnum_validates_columns(spark, tmp_path):
    from ia_hadoop_tools_spark.operators.assemble import export_corpus_zipnum

    d = _docs(spark, n=5)
    with pytest.raises(ValueError, match="split"):
        export_corpus_zipnum(d, str(tmp_path / "zn_bad"))


def test_export_corpus_zipnum_rejects_out_of_width_shard(spark, tmp_path):
    """A shard id outside the fixed key width must fail the export job
    loudly (it would silently corrupt the sort order and come back with
    null components on import)."""
    from ia_hadoop_tools_spark.operators.assemble import export_corpus_zipnum

    d = spark.createDataFrame(
        [(1, "t", "train", 100000, 0)],
        "doc_id: long, text: string, split: string, shard: int, pos: long",
    )
    with pytest.raises(Exception, match="key width"):
        export_corpus_zipnum(d, str(tmp_path / "zn_wide"))


def test_assemble_zero_token_shard_wastes_nothing(spark, tmp_path):
    """An all-zero-token stream occupies no bins: waste and capacity 0
    (signed %-arithmetic used to report one fully-wasted bin)."""
    root = str(tmp_path / "corpus_zero")
    d = spark.createDataFrame(
        [(i, "t", 0) for i in range(8)],
        "doc_id: long, text: string, n_tokens: long",
    )
    assemble_corpus(d, root, [("train", 1.0)], n_shards=1, seed=0, budget=16)
    man = read_manifest(root)
    assert man["pack_waste"]["train"] == {
        "wasted_tokens": 0, "capacity_tokens": 0, "fraction": 0.0,
    }


def test_export_corpus_zipnum_rejects_negative_pos(spark, tmp_path):
    from ia_hadoop_tools_spark.operators.assemble import export_corpus_zipnum

    d = spark.createDataFrame(
        [(1, "t", "train", 0, -1)],
        "doc_id: long, text: string, split: string, shard: int, pos: long",
    )
    with pytest.raises(Exception, match="key width"):
        export_corpus_zipnum(d, str(tmp_path / "zn_negpos"))


def test_assemble_rejects_waste_scratch_clash(spark, tmp_path):
    d = _docs(spark, n=5).withColumn("__waste", __import__("pyspark").sql.functions.lit(0))
    with pytest.raises(ValueError, match="__waste"):
        assemble_corpus(d, str(tmp_path / "cw"), SPLITS, n_shards=1, budget=8)


def test_verify_corpus_version_ok_and_detects_lost_leaf(spark, tmp_path):
    """corpus-verify fsck: a freshly published version passes every
    check; deleting one shard leaf's parquet file breaks counts_match
    (and only that) — the pre-training-run gate."""
    import glob as _glob

    from ia_hadoop_tools_spark.operators.assemble import (
        assemble_corpus,
        verify_corpus_version,
    )

    d = _docs(spark, 120)
    root = str(tmp_path / "versions")
    vdir = assemble_corpus(d, root, SPLITS, n_shards=2, seed=3, budget=64)

    rep = verify_corpus_version(spark, root, id_col="doc_id")
    assert rep["ok"], rep
    assert rep["version_dir"] == vdir
    assert rep["counts"] == rep["manifest_counts"]
    assert rep["rows"] == sum(rep["counts"].values())
    assert set(rep["checks"]) == {
        "manifest_version_matches_dir", "counts_match",
        "no_alien_splits", "shards_in_range",
        "pos_dense_per_shard", "ids_unique",
    }
    # id_col defaults to 'auto' = the manifest's own recorded column
    rep_auto = verify_corpus_version(spark, root)
    assert rep_auto["ok"] and rep_auto["checks"]["ids_unique"]
    # an id column missing from the frame is itself a failed check
    rep_missing = verify_corpus_version(spark, root, id_col="nope")
    assert not rep_missing["ok"] and not rep_missing["checks"]["ids_unique"]
    # and None skips the uniqueness check entirely
    assert "ids_unique" not in verify_corpus_version(
        spark, root, id_col=None
    )["checks"]

    # lose one leaf file (a torn copy / accidental delete)
    leaf = sorted(
        _glob.glob(os.path.join(vdir, "split=*", "shard=*", "*.parquet"))
    )[0]
    os.remove(leaf)
    rep2 = verify_corpus_version(spark, root, id_col="doc_id")
    assert not rep2["ok"]
    assert not rep2["checks"]["counts_match"]
    # dense-pos check also fires only if the lost leaf held pos>0 rows
    # of a shard; id uniqueness still holds
    assert rep2["checks"]["ids_unique"]


def test_verify_corpus_version_empty_split(spark, tmp_path):
    """A split the manifest records with 0 rows has no rows to group:
    counts_match must still hold (it used to fail every such version)."""
    from ia_hadoop_tools_spark.operators.assemble import verify_corpus_version

    root = str(tmp_path / "versions")
    assemble_corpus(_docs(spark, 40), root, [("train", 1.0), ("val", 0.0)], n_shards=2)
    assert read_manifest(root)["counts"] == {"train": 40, "val": 0}
    rep = verify_corpus_version(spark, root)
    assert rep["ok"], rep
    assert rep["counts"] == {"train": 40, "val": 0}


def test_corpus_verify_cli(spark, tmp_path, capsys):
    from ia_hadoop_tools_spark.operators.assemble import assemble_corpus
    from ia_hadoop_tools_spark.__main__ import main

    d = _docs(spark, 60)
    root = str(tmp_path / "versions")
    assemble_corpus(d, root, SPLITS, n_shards=2, seed=4)
    main(["corpus-verify", root])
    out = capsys.readouterr().out
    assert '"ok": true' in out


def test_corpus_diff_three_versions(spark, tmp_path):
    """round-8 verdict task #6: diff over three published versions —
    an extension diffs as added docs, an epoch-only re-shuffle diffs
    EMPTY on content and NONEMPTY on order, and the manifest delta
    carries counts/params."""
    from ia_hadoop_tools_spark.operators.assemble import (
        corpus_diff,
        corpus_diff_summary,
        corpus_manifest_diff,
    )

    root = str(tmp_path / "corpus")
    a = _docs(spark, 200)
    ab = _docs(spark, 300)  # the same 200 + 100 new
    assemble_corpus(a, root, SPLITS, n_shards=2, seed=11)            # v0
    assemble_corpus(ab, root, SPLITS, n_shards=2, seed=11)           # v1
    assemble_corpus(ab, root, SPLITS, n_shards=2, seed=11, epoch=1)  # v2

    # v0 -> v1: extension. Old docs keep (split, shard) (the epoch-loop
    # contract), so content change = exactly the 100 added ids; order
    # within touched shards may shift (reordered is allowed, moves not).
    d01 = corpus_diff(spark, root, 0, 1).collect()
    by = {}
    for r in d01:
        by.setdefault(r["status"], set()).add(r["doc_id"])
    assert by["added"] == set(range(200, 300))
    assert "removed" not in by and "moved_split" not in by
    assert "moved_shard" not in by
    # added rows carry B placement and NULL A placement
    added = [r for r in d01 if r["status"] == "added"]
    assert all(r["split_a"] is None and r["split_b"] is not None for r in added)

    # v1 -> v2: epoch-only re-shuffle — empty on content, nonempty on
    # order, split assignment epoch-independent
    d12 = corpus_diff(spark, root, 1, 2).collect()
    statuses = {r["status"] for r in d12}
    assert "added" not in statuses and "removed" not in statuses
    assert "moved_split" not in statuses
    assert statuses & {"moved_shard", "reordered"}
    # defaults resolve to (previous, latest) = (1, 2)
    d_default = corpus_diff(spark, root).collect()
    assert sorted(map(tuple, d_default)) == sorted(map(tuple, d12))

    # summary rolls up to bounded (split, shard, status) rows
    summ = {
        (r["split"], r["shard"], r["status"]): r["n_docs"]
        for r in corpus_diff_summary(corpus_diff(spark, root, 1, 2)).collect()
    }
    assert sum(summ.values()) == len(d12)
    assert all(n > 0 for n in summ.values())

    # manifest deltas: v0->v1 counts grew by 100 total, params equal;
    # v1->v2 only the epoch param changed
    m01 = corpus_manifest_diff(root, 0, 1)
    assert sum(m01["counts_delta"].values()) == 100
    assert m01["params_changed"] == {}
    m12 = corpus_manifest_diff(root, 1, 2)
    assert m12["counts_delta"] == {}
    assert set(m12["params_changed"]) == {"epoch"}
    assert m12["params_changed"]["epoch"] == [0, 1]


def test_corpus_diff_validation(spark, tmp_path):
    import pytest as _pytest

    from ia_hadoop_tools_spark.operators.assemble import corpus_diff

    root = str(tmp_path / "corpus")
    with _pytest.raises(FileNotFoundError, match="no published"):
        corpus_diff(spark, root)
    assemble_corpus(_docs(spark, 50), root, SPLITS, n_shards=2, seed=3)
    with _pytest.raises(FileNotFoundError, match="before v000"):
        corpus_diff(spark, root)  # only one version exists
    with _pytest.raises(ValueError, match="missing from"):
        corpus_diff(spark, root, 0, 0, id_col="nope")
