"""CLI surface tests (__main__.py — the JobDriver tool-name parity layer)."""

from __future__ import annotations

import gzip
import io
import os
import sys

import pytest

from ia_hadoop_tools_spark.__main__ import main


@pytest.fixture()
def cdx_file(tmp_path):
    p = tmp_path / "in.cdx"
    lines = [" CDX N b a m s k r M S V g"]
    for i in range(40):
        lines.append(
            f"com,site{i % 4})/p{i} 2020010{1 + i % 5}000000 "
            f"http://site{i % 4}.com/p{i} text/html 200 D{i:03d} - - "
            f"{100 + i} {1000 * i} f{i % 2}.warc.gz"
        )
    p.write_text("\n".join(lines) + "\n")
    return str(p)


def _run(capsys, *argv):
    main(list(argv))
    return capsys.readouterr().out


def test_cluster_build_and_range(spark, cdx_file, tmp_path, capsys):
    out = str(tmp_path / "cluster")
    _run(capsys, "cluster-build", cdx_file, out, "--num-ranges", "2")
    assert os.path.isdir(out)

    dumped = _run(capsys, "cluster-range", "com,site1)", "com,site2)", out)
    lines = [l for l in dumped.splitlines() if l]
    assert lines and all(l.startswith("com,site1)") for l in lines)
    assert lines == sorted(lines)


def test_zipnum_writer_summary_and_range(spark, tmp_path, capsys):
    src = tmp_path / "plain.txt"
    src.write_text("".join(f"k{i:04d} v{i}\n" for i in range(100)))
    out = str(tmp_path / "zn")
    _run(capsys, "zipnum-writer", str(src), out, "--count", "10",
         "--num-shards", "2")
    assert os.path.exists(os.path.join(out, "ALL.summary"))

    report = _run(capsys, "summary-generator", out)
    assert "idx lines" in report

    dumped = _run(capsys, "cluster-range", "k0010", "k0020", out)
    assert len([l for l in dumped.splitlines() if l]) == 10


def test_cdx_convert_stdout(spark, cdx_file, capsys):
    out = _run(capsys, "cdx-convert", cdx_file)
    lines = out.splitlines()
    assert len(lines) == 40
    assert all(l.split(" ")[0].startswith("com,site") for l in lines)


def test_hdfs_utils(tmp_path, capsys, monkeypatch):
    a = tmp_path / "a.bin"
    a.write_bytes(b"0123456789")
    out = _run(capsys, "hdfs-fseeko", str(a), "2", "4")
    # hdfs-fseeko writes bytes to stdout buffer; capsys captures text
    _run(capsys, "hdfs-mv", str(a), str(tmp_path / "b.bin"))
    assert (tmp_path / "b.bin").exists() and not a.exists()
    _run(capsys, "hdfs-touch", str(tmp_path / "t.flag"))
    assert (tmp_path / "t.flag").exists()

    monkeypatch.setattr(
        sys, "stdin", io.StringIO(f"{tmp_path / 'b.bin'} {tmp_path / 'c.bin'}\n")
    )
    log = _run(capsys, "hdfs-sync")
    assert "copied" in log and (tmp_path / "c.bin").exists()


def test_range_dumper_keeps_members_after_a_corrupt_one(
    tmp_path, capsys, monkeypatch
):
    """range-dumper walks a range member by member: a corrupt member in
    the middle costs only its own lines, and a range cutting the last
    member short still dumps that member's complete lines."""
    blocks = [[f"k{b}{i} 20200101000000 v" for i in range(20)] for b in "abc"]
    members = [
        gzip.compress("".join(l + "\n" for l in b).encode(), mtime=0)
        for b in blocks
    ]
    bad = bytearray(members[1])
    bad[len(bad) // 2 : len(bad) // 2 + 4] = b"\xff\x00\xff\x00"
    shard = tmp_path / "part-00000.gz"
    shard.write_bytes(members[0] + bytes(bad) + members[2])
    cut = len(members[0]) + len(bad) + len(members[2]) // 2
    monkeypatch.setattr(
        sys, "stdin", io.StringIO(f"{shard}\n{shard}\t0\t{cut}\n")
    )
    out = _run(capsys, "range-dumper").splitlines()
    whole = blocks[0] + blocks[2]
    assert out[: len(whole)] == whole
    tail = out[len(whole) :]
    assert tail == blocks[0] + blocks[2][: len(tail) - len(blocks[0])]


def test_file_search_binary_search(tmp_path, capsys):
    p = tmp_path / "sorted.txt"
    p.write_text("".join(f"k{i:05d} value{i}\n" for i in range(0, 20000, 3)))
    out = _run(capsys, "file-search", str(p), "k00102")
    assert out == "k00102 value102\n"
    # prefix matching multiple lines
    out = _run(capsys, "file-search", str(p), "k0010")
    assert out.splitlines() == [f"k{i:05d} value{i}" for i in range(102, 110, 3)]
    # before-first and after-last
    assert _run(capsys, "file-search", str(p), "a") == ""
    assert _run(capsys, "file-search", str(p), "z") == ""
    # first line of the file
    assert _run(capsys, "file-search", str(p), "k00000") == "k00000 value0\n"


def test_corpus_clean_sample_pack(spark, tmp_path, capsys):
    src = str(tmp_path / "docs")
    rows = []
    # 10 identical boilerplate-free docs in 2 near-dup pairs + spam + varied
    for i in range(20):
        rows.append(
            (i, f"src{i % 2}",
             f"varied document number {i} talks about topic {i * 7 % 13} "
             f"with sufficiently distinct wording and plenty of unique words "
             f"entry {i * 31 % 17} closing remark {i}")
        )
    rows.append((100, "src0", "spam spam spam spam spam spam spam spam"))
    rows.append((101, "src0", rows[0][2]))  # exact dup of doc 0
    spark.createDataFrame(
        rows, "doc_id: long, source: string, text: string"
    ).write.parquet(src)

    out = str(tmp_path / "clean")
    got = _run(capsys, "corpus-clean", src, out, "--threshold", "0.9")
    assert "corpus-clean: 22 ->" in got
    cleaned = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert 100 not in cleaned  # spam fails quality
    assert 101 not in cleaned and 0 in cleaned  # dup collapsed to min id

    out2 = str(tmp_path / "sampled")
    _run(capsys, "corpus-sample", src, out2, "--fractions",
         "src0=1.0,src1=0.0")
    sampled = {r.source for r in spark.read.parquet(out2).collect()}
    assert sampled == {"src0"}

    out3 = str(tmp_path / "packed")
    _run(capsys, "corpus-pack", src, out3, "--budget", "64")
    packed = spark.read.parquet(out3)
    assert {"bin", "bin_offset", "seq_start"} <= set(packed.columns)
    assert packed.count() == 22


def test_corpus_decontam_cli(spark, tmp_path, capsys):
    src = str(tmp_path / "dc_docs")
    bench = str(tmp_path / "dc_bench")
    phrase = "what is the answer to the ultimate question of everything"
    spark.createDataFrame(
        [
            (1, f"intro words then {phrase} and a closing remark here"),
            (2, "a fully original document with no benchmark overlap at all"),
        ],
        "doc_id: long, text: string",
    ).write.parquet(src)
    spark.createDataFrame(
        [(9, phrase)], "doc_id: long, text: string"
    ).write.parquet(bench)
    out = str(tmp_path / "dc_out")
    got = _run(capsys, "corpus-decontam", src, bench, out)
    assert "corpus-decontam[exact]: 2 -> 1 docs (1 contaminated dropped)" in got
    assert [r.doc_id for r in spark.read.parquet(out).collect()] == [2]

    # --fuzzy: a one-word edit at position 12 of the 24-token item
    # leaves no clean 13-token run, so exact --ngram 13 misses it,
    # while the near-dup detector keeps ~19/25 shingle Jaccard
    long_item = (
        "the quick brown fox jumps over the lazy dog near the river bank "
        "while the sun sets slowly behind the tall green hills tonight"
    )
    bench2 = str(tmp_path / "dc_bench2")
    spark.createDataFrame(
        [(9, long_item)], "doc_id: long, text: string"
    ).write.parquet(bench2)
    src2 = str(tmp_path / "dc_docs2")
    spark.createDataFrame(
        [
            (1, long_item.replace("river", "creek")),
            (2, "a fully original document with no benchmark overlap at all"),
        ],
        "doc_id: long, text: string",
    ).write.parquet(src2)
    out2 = str(tmp_path / "dc_out2")
    got = _run(
        capsys, "corpus-decontam", src2, bench2, out2,
        "--ngram", "13",
    )
    assert "corpus-decontam[exact]: 2 -> 2 docs" in got  # exact misses it
    out3 = str(tmp_path / "dc_out3")
    got = _run(
        capsys, "corpus-decontam", src2, bench2, out3, "--fuzzy",
    )
    assert "corpus-decontam[fuzzy]: 2 -> 1 docs (1 contaminated dropped)" in got
    assert [r.doc_id for r in spark.read.parquet(out3).collect()] == [2]


def test_cdxj_convert_cli(spark, tmp_path, capsys):
    import json

    p = tmp_path / "in.cdx"
    p.write_text(
        "com,x)/ 20200101000000 http://x.com/ text/html 200 DIG - - 5 9 f.warc.gz\n"
    )
    got = _run(capsys, "cdxj-convert", str(p))
    key, ts, obj = got.strip().split(" ", 2)
    assert (key, ts) == ("com,x)/", "20200101000000")
    assert json.loads(obj)["url"] == "http://x.com/"


def test_http_export(spark, tmp_path, capsys):
    import json as _json
    import threading as _threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    received = {}

    class _Sink(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_POST(self):  # noqa: N802
            rows = _json.loads(
                self.rfile.read(int(self.headers["Content-Length"]))
            )
            for r in rows:
                received[r["k"]] = r
            self.send_response(200)
            self.send_header("Content-Length", "0")
            self.end_headers()

    srv = ThreadingHTTPServer(("127.0.0.1", 0), _Sink)
    _threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        src = str(tmp_path / "t.parquet")
        spark.range(250).selectExpr("id as k", "id * 3 as v").write.parquet(src)
        out = _run(
            capsys, "http-export", src,
            f"http://127.0.0.1:{srv.server_address[1]}/ingest",
            "--batch-size", "100",
        )
        assert "250 rows" in out
        assert sorted(received) == list(range(250))
        assert all(received[k]["v"] == k * 3 for k in received)
    finally:
        srv.shutdown()


def test_corpus_tokenize_and_chunk(spark, tmp_path, capsys):
    from pyspark.sql import functions as F

    src = str(tmp_path / "docs")
    rows = [
        (1, "the thing then "
            + " ".join(f"filler{i}" for i in range(70))),
        (2, "another thin theme the the"),
    ]
    spark.createDataFrame(rows, "doc_id: long, text: string").write.parquet(src)

    # train + reuse the merge table through the TSV round-trip
    out1 = str(tmp_path / "counts")
    merges_tsv = str(tmp_path / "merges.tsv")
    got = _run(capsys, "corpus-tokenize", src, out1, "--train", "4",
               "--merges-out", merges_tsv)
    assert "corpus-tokenize: 2 rows (counts) with 4 merges" in got
    counts = {r.doc_id: r.n_tokens for r in spark.read.parquet(out1).collect()}
    assert set(counts) == {1, 2} and all(v > 0 for v in counts.values())
    assert len(open(merges_tsv).read().splitlines()) == 4

    out2 = str(tmp_path / "tokens")
    got = _run(capsys, "corpus-tokenize", src, out2, "--merges", merges_tsv,
               "--emit", "tokens")
    assert "(tokens) with 4 merges" in got
    toks = {r.doc_id: r.tokens for r in spark.read.parquet(out2).collect()}
    # token counts must agree between the two emit modes
    assert {k: len(v) for k, v in toks.items()} == counts

    out3 = str(tmp_path / "chunks")
    got = _run(capsys, "corpus-chunk", src, out3, "--chunk-tokens", "32",
               "--stride", "24")
    chunks = spark.read.parquet(out3)
    assert {"doc_id", "chunk_id", "n_tokens", "chunk"} <= set(chunks.columns)
    # doc 1 has 73 tokens -> starts 0,24,48,72 -> 4 chunks; doc 2 -> 1
    per_doc = {r.doc_id: r.n for r in
               chunks.groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
    assert per_doc == {1: 4, 2: 1}


def test_corpus_tokenize_bad_args(spark, tmp_path, capsys):
    src = str(tmp_path / "docs2")
    spark.createDataFrame([(1, "a b")], "doc_id: long, text: string") \
        .write.parquet(src)
    with pytest.raises(SystemExit):
        _run(capsys, "corpus-tokenize", src, str(tmp_path / "x"))
    bad = tmp_path / "bad.tsv"
    bad.write_text("no-tab-here\n")
    with pytest.raises(SystemExit):
        _run(capsys, "corpus-tokenize", src, str(tmp_path / "y"),
             "--merges", str(bad))
    # empty LEFT symbol must be rejected too ('\tb' slipped through when
    # only the right side was checked — round-7 advisory fix)
    bad2 = tmp_path / "bad2.tsv"
    bad2.write_text("\tb\n")
    with pytest.raises(SystemExit):
        _run(capsys, "corpus-tokenize", src, str(tmp_path / "y2"),
             "--merges", str(bad2))


def test_corpus_tokenize_unigram(spark, tmp_path, capsys):
    src = str(tmp_path / "uni_docs")
    spark.createDataFrame(
        [(i, "spark merge spark table") for i in range(6)],
        "doc_id: long, text: string",
    ).write.parquet(src)
    out = str(tmp_path / "uni_out")
    model_out = str(tmp_path / "uni_model")
    got = _run(capsys, "corpus-tokenize", src, out, "--tokenizer", "unigram",
               "--train", "24", "--model-out", model_out)
    assert "unigram model" in got and "6 rows" in got
    back = spark.read.parquet(out).collect()
    assert all(r.n_words == 4 and r.n_tokens >= 4 for r in back)
    # saved model reloads through --model with identical counts
    out2 = str(tmp_path / "uni_out2")
    _run(capsys, "corpus-tokenize", src, out2, "--tokenizer", "unigram",
         "--model", model_out)
    assert sorted(map(tuple, spark.read.parquet(out2).collect())) == sorted(
        map(tuple, back)
    )
    # unigram path rejects --emit tokens and missing model/train
    with pytest.raises(SystemExit, match="emit counts"):
        _run(capsys, "corpus-tokenize", src, str(tmp_path / "z"),
             "--tokenizer", "unigram", "--train", "8", "--emit", "tokens")
    with pytest.raises(SystemExit, match="VOCAB_SIZE"):
        _run(capsys, "corpus-tokenize", src, str(tmp_path / "z2"),
             "--tokenizer", "unigram")
    # mode-mismatched flags fail loudly instead of being ignored
    with pytest.raises(SystemExit, match="BPE flags"):
        _run(capsys, "corpus-tokenize", src, str(tmp_path / "z3"),
             "--tokenizer", "unigram", "--train", "8",
             "--merges-out", str(tmp_path / "m.tsv"))
    with pytest.raises(SystemExit, match="unigram flags"):
        _run(capsys, "corpus-tokenize", src, str(tmp_path / "z4"),
             "--train", "8", "--model-out", str(tmp_path / "m.pq"))


def test_corpus_tokenize_merges_crlf(spark, tmp_path, capsys):
    """Windows line endings must not leave '\\r' glued to the right
    symbol (silently producing no-op merges)."""
    src = str(tmp_path / "docs_crlf")
    spark.createDataFrame(
        [(1, "ab ab ab")], "doc_id: long, text: string"
    ).write.parquet(src)
    tsv = tmp_path / "m.tsv"
    tsv.write_bytes(b"a\tb\r\n")
    out = str(tmp_path / "crlf_out")
    got = _run(capsys, "corpus-tokenize", src, out, "--merges", str(tsv),
               "--emit", "counts")
    assert "with 1 merges" in got
    row = spark.read.parquet(out).collect()[0]
    # the merge APPLIED: 3 words of 'ab' -> 3 tokens, not 6
    assert (row.n_words, row.n_tokens) == (3, 3)


def test_corpus_import_export_roundtrip(spark, tmp_path, capsys):
    import gzip as _gz
    import json as _json

    # jsonl.gz shard with a custom text column and reproducible ids
    shard = tmp_path / "in.jsonl.gz"
    docs = [{"id": i, "body": f"doc {i} text", "lang": "en"} for i in range(6)]
    with _gz.open(shard, "wt", encoding="utf-8") as fh:
        for d in docs:
            fh.write(_json.dumps(d) + "\n")
    out = str(tmp_path / "docs")
    got = _run(capsys, "corpus-import", str(shard), out,
               "--text-col", "body", "--id-col", "id")
    assert "corpus-import: 6 docs" in got
    back = spark.read.parquet(out)
    assert {"doc_id", "text", "lang"} <= set(back.columns)
    assert back.filter("text = 'doc 3 text' AND doc_id = 3").count() == 1

    # auto-generated ids must be unique when no id column exists
    shard2 = tmp_path / "noid.jsonl"
    shard2.write_text("\n".join('{"text": "t%d"}' % i for i in range(5)) + "\n")
    out2 = str(tmp_path / "docs2")
    _run(capsys, "corpus-import", str(shard2), out2)
    ids = [r.doc_id for r in spark.read.parquet(out2).collect()]
    assert len(set(ids)) == 5

    # export round-trips content
    exp = str(tmp_path / "exported")
    _run(capsys, "corpus-export", out, exp, "--compression", "none",
         "--shards", "2")
    rt = spark.read.json(exp)
    assert rt.count() == 6
    assert rt.filter("text = 'doc 3 text'").count() == 1

    with pytest.raises(SystemExit):
        _run(capsys, "corpus-import", str(shard), str(tmp_path / "x"))


def test_corpus_import_error_paths(spark, tmp_path, capsys):
    # rename collision: both 'text' and 'body' present
    shard = tmp_path / "both.jsonl"
    shard.write_text('{"text": "a", "body": "b"}\n')
    with pytest.raises(SystemExit, match="ambiguous"):
        _run(capsys, "corpus-import", str(shard), str(tmp_path / "o1"),
             "--text-col", "body")

    # explicit --id-col doc_id with no such column must error, not
    # silently generate unstable ids
    shard2 = tmp_path / "noid2.jsonl"
    shard2.write_text('{"text": "a"}\n')
    with pytest.raises(SystemExit, match="doc_id"):
        _run(capsys, "corpus-import", str(shard2), str(tmp_path / "o2"),
             "--id-col", "doc_id")

    # malformed line: default fails loudly, --on-bad-lines drop discards
    bad = tmp_path / "bad.jsonl"
    bad.write_text('{"text": "ok"}\n{not json at all\n')
    with pytest.raises(Exception):
        _run(capsys, "corpus-import", str(bad), str(tmp_path / "o3"))
    got = _run(capsys, "corpus-import", str(bad), str(tmp_path / "o4"),
               "--on-bad-lines", "drop")
    assert "corpus-import: 1 docs" in got
    cols = set(spark.read.parquet(str(tmp_path / "o4")).columns)
    assert "_corrupt_record" not in cols

    # csv types are inferred so ids join against jsonl/parquet imports
    csvf = tmp_path / "in.csv"
    csvf.write_text("id,text\n7,hello\n")
    _run(capsys, "corpus-import", str(csvf), str(tmp_path / "o5"),
         "--format", "csv", "--id-col", "id")
    field = {f.name: f.dataType.simpleString()
             for f in spark.read.parquet(str(tmp_path / "o5")).schema.fields}
    assert field["doc_id"] in ("int", "bigint")

    # shards must be >= 1
    src = str(tmp_path / "o5")
    with pytest.raises(SystemExit, match="shards"):
        _run(capsys, "corpus-export", src, str(tmp_path / "o6"),
             "--shards", "0")


def test_corpus_split_cli(spark, tmp_path, capsys):
    src = str(tmp_path / "sp_docs")
    spark.createDataFrame(
        [(i, f"text {i}") for i in range(200)], "doc_id: long, text: string"
    ).write.parquet(src)
    out = str(tmp_path / "sp_out")
    got = _run(capsys, "corpus-split", src, out,
               "--fractions", "train=0.8,val=0.2")
    assert "0 unassigned" in got
    back = spark.read.parquet(out)
    counts = {r.split: r.n for r in
              back.groupBy("split").count().withColumnRenamed("count", "n").collect()}
    assert set(counts) == {"train", "val"} and sum(counts.values()) == 200
    with pytest.raises(SystemExit, match="fractions"):
        _run(capsys, "corpus-split", src, str(tmp_path / "sp_bad"),
             "--fractions", "oops")


def test_corpus_split_cli_single_job(spark, tmp_path, capsys):
    """The printed counts ride the write as an Observation — ONE data
    job (the old path ran a second aggregation over the input lineage:
    a full extra input scan at 100 TB).  Budget is 2 jobs total:
    read.parquet's schema-inference footer job + the write; a third job
    means the aggregation pass is back."""
    src = str(tmp_path / "sp1_docs")
    spark.createDataFrame(
        [(i, f"text {i}") for i in range(50)], "doc_id: long, text: string"
    ).write.parquet(src)
    sc = spark.sparkContext
    group = "corpus-split-job-probe"
    sc.setJobGroup(group, "schema read + ONE write job only")
    try:
        got = _run(capsys, "corpus-split", src, str(tmp_path / "sp1_out"),
                   "--fractions", "train=0.5,val=0.5")
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setJobGroup("", "")
    assert "0 unassigned" in got
    assert len(list(jobs or [])) <= 2


def test_corpus_split_cli_all_unassigned(spark, tmp_path, capsys):
    src = str(tmp_path / "sp0_docs")
    spark.createDataFrame(
        [(i, "t") for i in range(5)], "doc_id: long, text: string"
    ).write.parquet(src)
    got = _run(capsys, "corpus-split", src, str(tmp_path / "sp0_out"),
               "--fractions", "train=0.0")
    assert "{} assigned, 5 unassigned" in got


def test_corpus_split_cli_bad_fraction_values(spark, tmp_path, capsys):
    src = str(tmp_path / "spb_docs")
    spark.createDataFrame(
        [(1, "t")], "doc_id: long, text: string"
    ).write.parquet(src)
    for frs in ("train=abc", "train=0.9,val=-0.5,test=0.6", "=1.0",
                "a=0.5,a=0.5"):
        with pytest.raises(SystemExit):
            _run(capsys, "corpus-split", src, str(tmp_path / "spb_out"),
                 "--fractions", frs)


def test_corpus_shuffle_cli(spark, tmp_path, capsys):
    from ia_hadoop_tools_spark.operators.sampling import corpus_shuffle

    src = str(tmp_path / "shuf_docs")
    spark.createDataFrame(
        [(i, f"text {i}") for i in range(120)], "doc_id: long, text: string"
    ).write.parquet(src)
    out = str(tmp_path / "shuf_out")
    got = _run(capsys, "corpus-shuffle", src, out, "--shards", "4",
               "--seed", "9")
    assert "120 rows -> 4 seeded shards" in got
    back = spark.read.parquet(out)
    expect = {
        r.doc_id: (r.shard, r.pos)
        for r in corpus_shuffle(spark.read.parquet(src), 4, seed=9).collect()
    }
    got_rows = {r.doc_id: (r.shard, r.pos) for r in back.collect()}
    assert got_rows == expect
    with pytest.raises(SystemExit, match="shards"):
        _run(capsys, "corpus-shuffle", src, str(tmp_path / "shuf_bad"),
             "--shards", "0")


def test_corpus_assemble_cli(spark, tmp_path, capsys):
    import os

    src = str(tmp_path / "asm_docs")
    spark.createDataFrame(
        [(i, f"text {i}", 4 + i % 9) for i in range(80)],
        "doc_id: long, text: string, n_tokens: long",
    ).write.parquet(src)
    root = str(tmp_path / "asm_root")
    got = _run(capsys, "corpus-assemble", src, root,
               "--fractions", "train=0.9,val=0.1", "--shards", "2",
               "--seed", "3", "--budget", "32")
    assert "published" in got and "v000" in got
    assert os.path.exists(os.path.join(root, "v000", "_PUBLISHED"))
    back = spark.read.parquet(os.path.join(root, "v000", "split=train"))
    assert {"doc_id", "pos", "shard", "seq_start", "bin"} <= set(back.columns)
    # budget packing without the token column fails loudly
    src2 = str(tmp_path / "asm_docs2")
    spark.createDataFrame(
        [(1, "t")], "doc_id: long, text: string"
    ).write.parquet(src2)
    with pytest.raises(SystemExit, match="token column"):
        _run(capsys, "corpus-assemble", src2, str(tmp_path / "asm_bad"),
             "--shards", "1", "--budget", "8")


def test_corpus_diff_cli(spark, tmp_path, capsys):
    import json as _json
    import os

    from ia_hadoop_tools_spark.operators.assemble import assemble_corpus

    docs_a = spark.createDataFrame(
        [(i, f"text {i}") for i in range(60)], "doc_id: long, text: string"
    )
    docs_b = spark.createDataFrame(
        [(i, f"text {i}") for i in range(80)], "doc_id: long, text: string"
    )
    root = str(tmp_path / "diff_root")
    assemble_corpus(docs_a, root, [("train", 1.0)], n_shards=2, seed=5)
    assemble_corpus(docs_b, root, [("train", 1.0)], n_shards=2, seed=5)
    detail = str(tmp_path / "diff_detail")
    got = _run(capsys, "corpus-diff", root, "--detail-out", detail)
    payload = _json.loads(got.split("corpus-diff: ", 1)[1])
    assert payload["manifest"]["version_a"] == 0
    assert payload["manifest"]["version_b"] == 1
    assert payload["manifest"]["counts_delta"] == {"train": 20}
    assert payload["by_status"].get("added") == 20
    assert "removed" not in payload["by_status"]
    back = spark.read.parquet(detail)
    assert back.filter("status = 'added'").count() == 20
    assert os.path.exists(detail)


def test_corpus_export_zipnum_cli_roundtrip(spark, tmp_path, capsys):
    """corpus-export --codec zipnum on a published version dir emits a
    readable ZipNum cluster; frames without split/shard/pos are refused."""
    from ia_hadoop_tools_spark.operators.assemble import (
        assemble_corpus,
        import_corpus_zipnum,
    )

    root = str(tmp_path / "znroot")
    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(40)], "doc_id: long, text: string"
    )
    vdir = assemble_corpus(docs, root, [("train", 1.0)], n_shards=2, seed=1)
    out = str(tmp_path / "zn_out")
    got = _run(capsys, "corpus-export", vdir, out, "--codec", "zipnum")
    assert "(zipnum)" in got
    back = import_corpus_zipnum(spark, out, "doc_id bigint, text string")
    assert back.count() == 40
    # refusal: plain docs parquet has no split/shard/pos
    src = str(tmp_path / "plain")
    docs.write.parquet(src)
    with pytest.raises(SystemExit, match="split"):
        _run(capsys, "corpus-export", src, str(tmp_path / "zn_bad"),
             "--codec", "zipnum")


def test_corpus_buckets_cli(spark, tmp_path, capsys):
    src = str(tmp_path / "qb_docs")
    rows = [(i, "the quick brown fox jumps over the lazy dog again and again")
            for i in range(12)]
    rows += [(100 + i, "zx qv jk wp zx qv jk wp zx qv") for i in range(6)]
    spark.createDataFrame(rows, "doc_id: long, text: string").write.parquet(src)
    # clean ENGLISH reference: without it a self-trained model can rank
    # repetitive gibberish high (its bigrams are perfectly predictable)
    ref = str(tmp_path / "qb_ref")
    spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the lazy dog jumps over the quick brown fox again")],
        "doc_id: long, text: string",
    ).write.parquet(ref)
    for unit in ("char", "word", "backoff"):
        out = str(tmp_path / f"qb_out_{unit}")
        got = _run(capsys, "corpus-buckets", src, out, "--unit", unit,
                   "--reference", ref, "--vocab", "100", "--cal-docs", "0")
        assert f"corpus-buckets[{unit}]:" in got
        back = spark.read.parquet(out)
        assert {"doc_id", "lm_score", "bucket"} <= set(back.columns)
        by = {r.doc_id: r.bucket for r in back.collect()}
        # reference-like docs outrank gibberish under every scorer
        assert by[0] == "head" and by[100] == "tail"
        # buckets are monotone in score
        sc = {r.doc_id: r.lm_score for r in back.collect()}
        lo = min(sc[i] for i, b in by.items() if b == "head")
        hi = max(sc[i] for i, b in by.items() if b == "tail")
        assert lo >= hi
    # hash-based bounded calibration slice (content-addressed: works for
    # ANY doc_id type, unlike a dense doc_id < N predicate)
    out = str(tmp_path / "qb_out_cal")
    _run(capsys, "corpus-buckets", src, out, "--unit", "word",
         "--reference", ref, "--vocab", "100", "--cal-docs", "12")
    cal_back = spark.read.parquet(out)
    assert set(cal_back.select("bucket").distinct().toPandas()["bucket"]) \
        <= {"head", "middle", "tail"}


def test_corpus_leakage_cli(spark, tmp_path, capsys):
    src = str(tmp_path / "lk_docs")
    rows = [(i, "shared boilerplate text") for i in range(40)]
    rows += [(100 + i, f"unique text number {i} entirely") for i in range(10)]
    spark.createDataFrame(rows, "doc_id: long, text: string").write.parquet(src)
    out = str(tmp_path / "lk_out")
    got = _run(capsys, "corpus-leakage", src,
               "--fractions", "train=0.5,val=0.5", "--near",
               "--output", out)
    assert "1 exact cross-split text groups" in got
    assert "near-dup cross-split pairs" in got
    exact = spark.read.parquet(out + "/exact")
    assert exact.count() == 1 and exact.first().n_docs == 40
    near = spark.read.parquet(out + "/near")
    assert {"id_a", "id_b", "jaccard", "split_a", "split_b"} <= set(near.columns)
    with pytest.raises(SystemExit, match="fractions"):
        _run(capsys, "corpus-leakage", src, "--fractions", "train=2.0")


def test_corpus_sample_temperature_cli(spark, tmp_path, capsys):
    src = str(tmp_path / "ts_docs")
    spark.createDataFrame(
        [(i, "big" if i < 900 else "small") for i in range(1000)],
        "doc_id: long, source: string",
    ).write.parquet(src)
    out = str(tmp_path / "ts_out")
    got = _run(capsys, "corpus-sample", src, out,
               "--temperature", "0.0", "--target", "200")
    assert "temperature fractions" in got
    back = spark.read.parquet(out)
    per = {r.source: r.n for r in back.groupBy("source")
           .count().withColumnRenamed("count", "n").collect()}
    # alpha=0 equalizes: small (100 docs) kept whole, big ~100 of 900
    assert per["small"] == 100
    assert 50 <= per["big"] <= 160
    with pytest.raises(SystemExit, match="target"):
        _run(capsys, "corpus-sample", src, str(tmp_path / "ts_bad"),
             "--temperature", "1.0")


def test_corpus_assemble_epochs_cli(spark, tmp_path, capsys):
    from ia_hadoop_tools_spark.operators.assemble import read_manifest

    src = str(tmp_path / "ae_docs")
    spark.createDataFrame(
        [(i, f"text {i}") for i in range(30)], "doc_id: long, text: string"
    ).write.parquet(src)
    root = str(tmp_path / "ae_root")
    got = _run(capsys, "corpus-assemble", src, root,
               "--fractions", "train=1.0", "--shards", "2", "--seed", "3",
               "--epochs", "3")
    assert got.count("corpus-assemble: published") == 3
    for v, epoch in ((0, 0), (1, 1), (2, 2)):
        man = read_manifest(root, v)
        assert man["epoch"] == epoch and man["counts"]["train"] == 30
    with pytest.raises(SystemExit, match="epochs"):
        _run(capsys, "corpus-assemble", src, root,
             "--fractions", "train=1.0", "--shards", "2", "--epochs", "0")


def test_corpus_export_refuses_torn_version(spark, tmp_path, capsys):
    """A version dir with MANIFEST.json but no _PUBLISHED marker is a
    crashed save — corpus-export must refuse it like every other
    version reader."""
    import json as _json

    vdir = tmp_path / "torn_v000"
    vdir.mkdir()
    (vdir / "MANIFEST.json").write_text(_json.dumps({"version": 0}))
    with pytest.raises(SystemExit, match="UNPUBLISHED"):
        _run(capsys, "corpus-export", str(vdir), str(tmp_path / "torn_out"),
             "--codec", "zipnum")


def test_corpus_classify_cli(spark, tmp_path, capsys):
    pos = str(tmp_path / "cls_pos")
    docs = str(tmp_path / "cls_docs")
    spark.createDataFrame(
        [(i, "clean spark merge scan") for i in range(10)],
        "doc_id: long, text: string",
    ).write.parquet(pos)
    rows = [(i, "clean spark merge scan extra") for i in range(5)]
    rows += [(10 + i, "zz1 zz2 zz3 zz4") for i in range(5)]
    spark.createDataFrame(rows, "doc_id: long, text: string").write.parquet(
        docs
    )
    out = str(tmp_path / "cls_out")
    got = _run(capsys, "corpus-classify", docs, out, "--pos", pos,
               "--vocab", "100")
    assert "corpus-classify: 5/10 docs above llr=0.0" in got
    back = {r.doc_id: r.nb_llr for r in spark.read.parquet(out).collect()}
    assert len(back) == 10
    # reference-like docs score positive, junk negative
    assert all(back[i] > 0 for i in range(5))
    assert all(back[10 + i] < 0 for i in range(5))


def test_corpus_langid_cli(spark, tmp_path, capsys):
    train = str(tmp_path / "lid_train")
    docs = str(tmp_path / "lid_docs")
    spark.createDataFrame(
        [(i, "en", "the thing and the other thing") for i in range(5)]
        + [(10 + i, "de", "der und die aber der und die") for i in range(5)],
        "doc_id: long, lang: string, text: string",
    ).write.parquet(train)
    spark.createDataFrame(
        [(0, "the thing and stuff"), (1, "der und die sache")],
        "doc_id: long, text: string",
    ).write.parquet(docs)
    out = str(tmp_path / "lid_out")
    model_out = str(tmp_path / "lid_model")
    got = _run(capsys, "corpus-langid", docs, out, "--train", train,
               "--vocab", "200", "--model-out", model_out)
    assert "corpus-langid: 2 docs, 2 languages" in got
    back = {r.doc_id: r.lang_pred for r in spark.read.parquet(out).collect()}
    assert back == {0: "en", 1: "de"}
    # heuristic path (no model): runs, writes only (doc_id, lang_pred)
    out2 = str(tmp_path / "lid_out2")
    got = _run(capsys, "corpus-langid", docs, out2)
    assert "corpus-langid: 2 docs" in got
    assert spark.read.parquet(out2).columns == ["doc_id", "lang_pred"]
    # saved model reloads byte-identically through --model
    out3 = str(tmp_path / "lid_out3")
    _run(capsys, "corpus-langid", docs, out3, "--model", model_out)
    back3 = {r.doc_id: r.lang_pred for r in spark.read.parquet(out3).collect()}
    assert back3 == back
    # trained-path-only flags without --model/--train refuse instead of
    # silently writing heuristic output (ADVICE r9)
    out4 = str(tmp_path / "lid_out4")
    for flags in (["--vocab", "200"], ["--model-out", model_out],
                  ["--n", "2"], ["--label-col", "lang"],
                  ["--max-chars", "99"]):
        with pytest.raises(SystemExit, match="trained model"):
            _run(capsys, "corpus-langid", docs, out4, *flags)
    # training-only flags with a PRE-TRAINED --model refuse too (review
    # r10): --vocab/--label-col shape training, not scoring
    for flags in (["--vocab", "200"], ["--label-col", "lang"]):
        with pytest.raises(SystemExit, match="TRAINING"):
            _run(capsys, "corpus-langid", docs, out4, "--model", model_out,
                 *flags)
    assert not os.path.exists(out4)


def test_corpus_prune_cli(spark, tmp_path, capsys):
    emb = str(tmp_path / "pr_emb")
    # two tight direction groups; k-means with k=2 separates them
    rows = [(i, [1.0, 0.01 * i]) for i in range(10)]
    rows += [(100 + i, [0.01 * i, 1.0]) for i in range(10)]
    spark.createDataFrame(
        rows, "vec_id: long, embedding: array<double>"
    ).write.parquet(emb)
    out = str(tmp_path / "pr_out")
    got = _run(capsys, "corpus-prune", emb, out, "--k", "2",
               "--keep-frac", "0.5")
    assert "corpus-prune[prototypes]: keep 10/20" in got
    back = spark.read.parquet(out)
    assert {"vec_id", "cluster_id", "cluster_rank", "keep"} <= set(
        back.columns
    )
    # each trained cell keeps exactly half
    kept = back.filter("keep").groupBy("cluster_id").count().collect()
    assert sorted(r["count"] for r in kept) == [5, 5]


def test_corpus_stats_cli(spark, tmp_path, capsys):
    src = str(tmp_path / "st_docs")
    rows = [(0, "a", "one two"), (1, "a", "one two"), (2, "b", "three")]
    spark.createDataFrame(
        rows, "doc_id: long, source: string, text: string"
    ).write.parquet(src)
    out = str(tmp_path / "st_out")
    got = _run(capsys, "corpus-stats", src, "--output", out)
    assert "corpus-stats: a: docs=2 tokens=4 mean=2.0 max=2 chars=14 " \
           "unique=1 dup_frac=0.5000" in got
    assert "corpus-stats: b: docs=1" in got
    assert spark.read.parquet(out).count() == 2
    got_all = _run(capsys, "corpus-stats", src, "--all", "--approx")
    assert "corpus-stats: ALL: docs=3" in got_all


def test_corpus_shuffle_curriculum_cli(spark, tmp_path, capsys):
    src = str(tmp_path / "cu_docs")
    rows = [(i, i % 2, f"text {i}") for i in range(40)]
    spark.createDataFrame(
        rows, "doc_id: long, phase: int, text: string"
    ).write.parquet(src)
    out = str(tmp_path / "cu_out")
    got = _run(capsys, "corpus-shuffle", src, out, "--shards", "4",
               "--curriculum-col", "phase")
    assert "corpus-shuffle: 40 rows -> 4 curriculum[phase] shards" in got
    back = spark.read.parquet(out)
    # phase 0 owns the low shard range, phase 1 the high — shard-major
    # replay is phase-major
    pairs = {(r["phase"], r["shard"]) for r in back.collect()}
    assert max(s for p, s in pairs if p == 0) < min(
        s for p, s in pairs if p == 1
    )
