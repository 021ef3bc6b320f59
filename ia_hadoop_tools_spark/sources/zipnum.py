"""ZipNum blocked-gzip codec — Wayback interchange-format compatibility.

Format (cdx/notes.txt:1-36, mapreduce/ZipNumOutputFormat.java:32-156,
ZipNumRecordWriter.java:119-201): a SHARD is sorted CDX text compressed as
CONCATENATED GZIP MEMBERS of a fixed line count (default 3000); a sidecar idx
has one line per member: ``firstKey \t shard \t offset \t length``; a CLUSTER
directory adds ``ALL.summary`` (sorted concat of the idx files) and
``manifest.txt``.

This is the one operator family Spark genuinely lacks, implemented with
``mapPartitions`` + Python gzip (SURVEY.md §7.4 hard part #2):

- ``write_zipnum``: range-sorted partitions -> one shard per partition,
  written executor-side with the reference's TMP+atomic-rename protocol
  (jobs/CDXGenerator.java:123-136); idx entries come back as the job result
  (not a side channel), ALL.summary is their sorted projection.
- ``plan_blocks`` + ``read_block_lines``: the ONE ZipNum reader. The
  planner streams ``ALL.summary`` and keeps the blocks whose key range can
  intersect ``[start, end)`` — the reference's binary search over the
  summary (cdx/CDXCluster.java:31-43) — coalesced into byte-balanced spans;
  the read loop streams each span with one ranged open and gunzips it
  member by member (the GZIPRangeLineDereferencingRecordReader pattern).
  ``zipnum_range``/``read_zipnum``, the ``zipnum`` DataSource, the CDX HTTP
  server and the HTTP deref reader all read through these two.

The native engine stores clusters as sorted Parquet (operators/cluster.py);
this codec exists for interchange with Wayback-era tooling, and its envelope
structure (3000-line members) is preserved byte-semantically.
"""

from __future__ import annotations

import gzip
import logging
import zlib
from collections.abc import Iterator
from functools import partial
from itertools import chain

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from ia_hadoop_tools_spark.schemas import ZIPNUM_IDX_SCHEMA
from ia_hadoop_tools_spark.sources import fsio

DEFAULT_LINES_PER_BLOCK = 3000  # conf.zipnum.count, ZipNumOutputFormat.java:33-34


def _summary_key(line: str) -> str:
    """First two CDX fields, tabs %09-escaped (ZipNumRecordWriter.java:94-112)."""
    parts = line.split(" ", 2)
    key = " ".join(parts[:2])
    return key.replace("\t", "%09")


def _write_shard(
    part_id: int,
    lines: Iterator[str],
    out_dir: str,
    lines_per_block: int,
    filesystem=None,
) -> Iterator[Row]:
    """Executor-side shard writer: TMP + atomic rename, one gzip member per
    ``lines_per_block`` lines; yields idx rows. All I/O goes through
    :mod:`fsio`, so ``out_dir`` may be local, ``hdfs://`` or ``s3://``."""
    from pyspark import TaskContext

    shard = f"part-{part_id:05d}.gz"
    final = fsio.join(out_dir, shard)
    # ATTEMPT-unique tmp (the write_kvstore pattern): a fixed .TMP name
    # lets speculative/zombie attempts interleave writes into one file
    # and commit a corrupt shard; rename stays the commit point
    ctx = TaskContext.get()
    attempt = ctx.taskAttemptId() if ctx is not None else 0
    tmp = f"{final}.{attempt}.TMP"
    idx_rows: list[Row] = []
    offset = 0
    buf: list[str] = []
    wrote_any = False

    def flush(fh) -> None:
        nonlocal offset, buf
        if not buf:
            return
        # mtime=0 pins the 4-byte MTIME header field: identical input lines
        # produce byte-identical shards on every run (golden-testable, and
        # re-runs of an idempotent job produce rsync-stable outputs)
        payload = gzip.compress("".join(buf).encode("utf-8"), mtime=0)
        fh.write(payload)
        idx_rows.append(
            Row(
                summary_key=_summary_key(buf[0].rstrip("\n")),
                shard=shard,
                offset=offset,
                length=len(payload),
            )
        )
        offset += len(payload)
        buf = []

    with fsio.open_write(tmp, filesystem) as fh:
        for line in lines:
            wrote_any = True
            if not line.endswith("\n"):
                line += "\n"
            buf.append(line)
            if len(buf) >= lines_per_block:
                flush(fh)
        flush(fh)
    if wrote_any:
        fsio.rename(tmp, final, filesystem)  # atomic commit (rename protocol)
    else:
        fsio.remove(tmp, filesystem)
        return iter(())
    # per-shard idx sidecar (ZipNumRecordWriter.java:190-201 writes these
    # alongside each shard; SummaryGenerator later concatenates them)
    summary = final[: -len(".gz")] + ".summary"
    stmp = f"{summary}.{attempt}.TMP"
    with fsio.open_write_text(stmp, filesystem) as sfh:
        for r in idx_rows:
            sfh.write(f"{r.summary_key}\t{r.shard}\t{r.offset}\t{r.length}\n")
    fsio.rename(stmp, summary, filesystem)
    return iter(idx_rows)


def write_zipnum(
    df: DataFrame,
    out_dir: str,
    lines_per_block: int = DEFAULT_LINES_PER_BLOCK,
    num_shards: int | None = None,
    value_col: str = "value",
    sort: bool = True,
    filesystem=None,
) -> DataFrame:
    """Write a text DataFrame as a ZipNum cluster directory; returns the idx
    DataFrame (summary_key, shard, offset, length), also persisted as
    ALL.summary + manifest.txt.

    ``out_dir`` may be a local path or any URI pyarrow.fs resolves
    (``hdfs://``, ``s3://``, …); pass ``filesystem=`` to supply your own
    FileSystem object (it is pickled into the executor closure).
    """
    fsio.makedirs(out_dir, filesystem)
    # Re-running into a non-empty dir with different sharding must not leave
    # a previous run's shards beside fresh metadata: ALL.summary is scoped to
    # this job's shard set (below), and stale part-*.gz / part-*.summary /
    # uncommitted *.TMP files are removed up front so the directory IS the
    # cluster (the reference treats the output dir as job-owned:
    # mapreduce/ZipNumOutputFormat.java:87-128 names every file it commits).
    import re as _re

    for f in fsio.listdir(out_dir, filesystem):
        if f.endswith(".TMP") or _re.fullmatch(r"part-\d+\.(gz|summary)", f):
            fsio.remove(fsio.join(out_dir, f), filesystem)
    spark = df.sparkSession
    vals = df.select(F.col(value_col).cast("string").alias("v"))
    if sort:
        if num_shards:
            vals = vals.repartitionByRange(num_shards, "v")
        else:
            vals = vals.repartitionByRange("v")
        vals = vals.sortWithinPartitions("v")

    lpb, fs_obj = lines_per_block, filesystem

    def writer(pid: int, it: Iterator[Row]) -> Iterator[Row]:
        def checked(rows):
            for r in rows:
                v = r["v"]
                # loud validation: a NULL value would die deep in the
                # writer with a bare AttributeError, and an embedded
                # newline silently SPLITS the record (fabricating rows on
                # read); a tab in the key fields would corrupt the TSV
                # sidecar / sort differently after %09-escaping
                if v is None:
                    raise ValueError("write_zipnum: null value row")
                if "\n" in v or "\r" in v:
                    raise ValueError(
                        f"write_zipnum: value contains a newline: {v[:80]!r}"
                    )
                head = v.split(" ", 2)[:2]
                if any("\t" in fld for fld in head):
                    raise ValueError(
                        "write_zipnum: tab inside the first two (key) "
                        f"fields: {v[:80]!r}"
                    )
                yield v

        return _write_shard(pid, checked(it), out_dir, lpb, fs_obj)

    # eager localCheckpoint, NOT cache(): the writer has side effects
    # (shard files), so the lineage must never re-run; the checkpoint cuts
    # it, and the caller may safely unpersist the returned idx when done
    # (a long session writing many clusters should — each idx pins one
    # block-count-sized table otherwise)
    idx = spark.createDataFrame(
        vals.rdd.mapPartitionsWithIndex(writer), ZIPNUM_IDX_SCHEMA
    ).localCheckpoint(eager=True)

    # ALL.summary: the per-shard idx sidecars (written executor-side, already
    # offset-ordered; shard order == range-partition order) are streamed into
    # one file (cdx/SummaryGenerator.java:46-122). No driver-side row
    # materialization — at 100 TB the summary is ~300M lines, and this is a
    # file-to-file concat, not a collect(). THIS JOB'S shard set (from the
    # idx result, a few rows per shard) scopes both sidecar aggregation
    # steps — globbing the directory instead would silently merge stale
    # shards from a previous run with different sharding into the cluster
    # metadata.
    job_shards = sorted({r["shard"] for r in idx.select("shard").distinct().collect()})
    summary_generator(out_dir, shards=job_shards, filesystem=filesystem)
    manifest_aggregator(out_dir, job_shards, filesystem=filesystem)
    return idx


def summary_generator(
    cluster_dir: str, shards: list[str] | None = None, filesystem=None
) -> int:
    """Rebuild ``ALL.summary`` from the per-shard ``*.summary`` sidecars
    (cdx/SummaryGenerator.java:46-122).

    ``shards`` (``.gz`` basenames) scopes the aggregation to a known shard
    set — ``write_zipnum`` passes its own job's shards so stale files from a
    previous run can never leak into the cluster metadata. With ``None`` the
    directory is globbed (standalone CLI rebuild of a whole cluster).

    Pairs each ``<shard>.summary`` with its ``<shard>.gz`` (sanity check
    :75-79 — a summary without its data file aborts), concatenates them in
    sorted shard order, and rewrites ``ALL.summary`` atomically. Returns the
    number of idx lines written. Driver-side by design: the summary is
    ~1/3000 of the data, and this runs as the post-job finalization step
    (§3.1 step 4), not inside the dataflow.
    """
    def stem_key(stem: str):
        # numeric-aware: plain string sort puts part-100000 before
        # part-99999, silently breaking ALL.summary's global key order
        # past 100k shards (the 100 TB sizing)
        import re

        m = re.match(r"^(.*?)(\d+)$", stem)
        return (m.group(1), int(m.group(2))) if m else (stem, -1)

    if shards is None:
        stems = sorted(
            (
                f[: -len(".summary")]
                for f in fsio.listdir(cluster_dir, filesystem)
                if f.endswith(".summary") and f != "ALL.summary"
            ),
            key=stem_key,
        )
    else:
        stems = sorted(
            (s[: -len(".gz")] if s.endswith(".gz") else s for s in shards),
            key=stem_key,
        )
    for s in stems:
        if not fsio.exists(fsio.join(cluster_dir, s + ".gz"), filesystem):
            raise IOError(f"summary {s}.summary has no matching {s}.gz")
    n = 0
    out = fsio.join(cluster_dir, "ALL.summary")
    with fsio.open_write_text(out + ".TMP", filesystem) as fh:
        for s in stems:
            with fsio.open_read_text(
                fsio.join(cluster_dir, s + ".summary"), filesystem
            ) as sfh:
                for line in sfh:
                    fh.write(line)
                    n += 1
    fsio.rename(out + ".TMP", out, filesystem)
    return n


def manifest_aggregator(
    cluster_dir: str, source_basenames: list[str], filesystem=None
) -> str:
    """Write a sorted, deduplicated ``manifest.txt`` of source basenames
    (cdx/ManifestAggregator.java:34-81 — the reference heap-merges per-shard
    sorted manifests; with a driver-side set the result is identical)."""
    out = fsio.join(cluster_dir, "manifest.txt")
    with fsio.open_write_text(out + ".TMP", filesystem) as fh:
        for b in sorted(set(source_basenames)):
            fh.write(b + "\n")
    fsio.rename(out + ".TMP", out, filesystem)
    return out


def block_lines(text: str) -> list[str]:
    """Split a decompressed block into record lines.

    Records are framed by ``\\n`` ONLY (the writer's contract in
    ``_write_shard``); ``str.splitlines()`` would also split on
    ``\\x0b``/``\\x0c``/``\\x85``/U+2028/U+2029 INSIDE a value, so a line
    carrying one of those bytes would read back as two corrupt rows.
    """
    lines = text.split("\n")
    if lines and lines[-1] == "":
        lines.pop()  # writer terminates the block with a trailing \n
    return lines


def iter_summary_rows(cluster_dir: str, filesystem=None):
    """Stream ALL.summary as (key, shard, offset, length) tuples — the one
    TSV parse shared by ``load_summary``'s fsio branch, the served-cluster
    pager and the ``zipnum`` DataSource planner. A generator so planners
    can stream a 100 TB cluster's ~300M-line summary in O(1) memory."""
    with fsio.open_read_text(
        fsio.join(cluster_dir, "ALL.summary"), filesystem
    ) as fh:
        for line in fh:
            key, shard, off, length = line.rstrip("\n").split("\t")
            yield (key, shard, int(off), int(length))


def read_summary_rows(
    cluster_dir: str, filesystem=None
) -> list[tuple[str, str, int, int]]:
    """Materialized :func:`iter_summary_rows` (driver-sized clusters)."""
    return list(iter_summary_rows(cluster_dir, filesystem))


READ_CHUNK_BYTES = 1 << 18  # span read size: a few members per read
_GZIP_MAGIC = b"\x1f\x8b\x08"  # ID1 ID2 CM=deflate opens every member


def gzip_members(chunks) -> Iterator[tuple[int, str, bool]]:
    """Yield ``(offset, text, clean)`` for each gzip member of the byte
    stream ``chunks``; boundaries come from the bytes (``unused_data``),
    so memory is one chunk plus one member.

    A damaged member is yielded once with ``clean=False``: cut short by
    the stream's end it keeps its complete lines (the reference degrades
    to EOF: mapreduce/GZIPRangeLineDereferencingRecordReader.java:94-109),
    failing to inflate or its CRC it keeps none. The walk then resyncs at
    the next gzip header past the damaged member's start, keeping only
    members that inflate whole — so a corrupt member costs only its own
    block, and header-like bytes inside deflate data are passed over.
    """
    chunks = iter(chunks)
    pending, pos, resyncing = b"", 0, False
    while True:
        if not pending:
            pending = next(chunks, b"")
            if not pending:
                return
        d = zlib.decompressobj(zlib.MAX_WBITS | 16)
        fed, out, data, whole = [], [], pending, False
        while data:
            fed.append(data)
            try:
                out.append(d.decompress(data))
            except zlib.error:
                break
            if d.eof:
                whole = True
                break
            data = next(chunks, b"")
        raw = b"".join(out)
        if whole:
            pending = d.unused_data
            try:
                text, clean = raw.decode("utf-8"), True
            except UnicodeDecodeError:
                text, clean = raw.decode("utf-8", errors="replace"), False
            yield pos, text, clean
            pos += sum(map(len, fed)) - len(pending)
            resyncing = False
            continue
        if not resyncing:
            text = ""
            if not data:  # the stream ended mid-member: keep whole lines
                text = raw.decode("utf-8", errors="replace")
                text = text[: text.rfind("\n") + 1]
            yield pos, text, False
        buf = b"".join(fed)
        i = buf.find(_GZIP_MAGIC, 1)
        while i < 0:
            more = next(chunks, b"")
            if not more:
                return
            keep = buf[max(1, len(buf) - 2) :]  # a header split by the read
            pos += len(buf) - len(keep)
            buf = keep + more
            i = buf.find(_GZIP_MAGIC)
        pending, pos, resyncing = buf[i:], pos + i, True


Span = tuple[str, int, int]  # (shard, offset, length) of contiguous members


def _pruned_blocks(rows, start: str | None, end: str | None):
    """Stream (key, shard, off, len) rows -> kept (shard, off, len).

    A block covers [its key, next block's key in the same shard); the
    last block of a shard is kept conservatively (unknown upper key).
    ``next_key >= start`` keeps a block whose tail may hold keys equal to
    the next block's first key (duplicate keys spanning a boundary).
    One-row lookahead, O(1) memory.

    The pruning math ASSUMES rows arrive shard-grouped and
    offset-ordered (write_zipnum's ALL.summary layout). An externally
    produced summary violating that order would silently mis-prune —
    next-key covering ranges would be wrong, and pruned blocks are never
    read, so the row-level re-filter cannot repair the loss — so order
    is validated while streaming and malformed summaries fail loudly
    (O(shards) state, still never O(blocks)).
    """
    cur = None
    seen_shards: set[str] = set()
    for row in rows:
        if cur is not None:
            key, shard, off, length = cur
            if row[1] == shard:
                if row[2] <= off:
                    raise ValueError(
                        f"malformed ALL.summary: offset regressed in shard"
                        f" {shard!r} ({off} -> {row[2]}); blocks must be"
                        f" shard-grouped and offset-ordered"
                    )
                if row[0] < key:
                    raise ValueError(
                        f"malformed ALL.summary: key regressed in shard"
                        f" {shard!r} ({key!r} -> {row[0]!r}); block keys"
                        f" must be sorted"
                    )
                nxt = row[0]
            else:
                if row[1] in seen_shards:
                    raise ValueError(
                        f"malformed ALL.summary: shard {row[1]!r} reappears"
                        f" after {shard!r}; blocks must be shard-grouped"
                    )
                seen_shards.add(shard)
                nxt = None
            if not (end is not None and key >= end) and not (
                start is not None and nxt is not None and nxt < start
            ):
                yield shard, off, length
        cur = row
    if cur is not None:
        key, shard, off, length = cur
        if not (end is not None and key >= end):
            yield shard, off, length


def plan_blocks(
    summary,
    start: str | None,
    end: str | None,
    num_spans: int,
) -> list[Span]:
    """Prune to covering blocks and coalesce them into byte-balanced SPANS.

    ``summary`` is a list of (key, shard, offset, length) rows or a
    zero-arg factory of iterators over them (the streaming path). Two
    streaming passes: (1) count kept blocks + bytes, (2) emit contiguous
    same-shard spans of ~total/num_spans bytes. A span is
    ``(shard, offset, length)``; :func:`read_block_lines` finds its
    member boundaries in the bytes, so driver memory is O(spans + shards),
    never O(blocks).
    """
    factory = summary if callable(summary) else (lambda: iter(summary))
    total, n_blocks = 0, 0
    for _, _, length in _pruned_blocks(factory(), start, end):
        total += length
        n_blocks += 1
    if not n_blocks:
        return []
    target = max(1, total // max(1, min(num_spans, n_blocks)))
    spans: list[Span] = []
    for shard, off, length in _pruned_blocks(factory(), start, end):
        if spans:
            s_shard, s_off, s_len = spans[-1]
            if s_shard == shard and s_off + s_len == off and s_len < target:
                spans[-1] = (shard, s_off, s_len + length)
                continue
        spans.append((shard, off, length))
    return spans


def read_block_lines(
    cluster_dir: str,
    spans,
    start: str | None,
    end: str | None,
    skip_bad: bool = False,
    bad_acc=None,
    filesystem=None,
) -> Iterator[list[str]]:
    """Yield each block's lines bounded to ``[start, end)`` by their
    ``urlkey timestamp`` prefix. ``spans`` are :func:`plan_blocks` spans
    or summary rows ``(key, shard, offset, length)`` (one-block spans);
    each is streamed from one open shard in reads of at most
    ``READ_CHUNK_BYTES`` and walked by :func:`gzip_members`, so memory is
    one read plus one block whatever the span size.

    ``skip_bad`` is the reference's ``--skip-bad`` tolerance: a corrupt,
    truncated or unreadable member is salvaged to its last complete line,
    counted in ``bad_acc`` (a Spark accumulator) and logged, instead of
    failing. Without it, corruption raises — a 100 TB job should not
    silently lose data unless the operator asked for it.
    """
    log = logging.getLogger(__name__)
    bounded = start is not None or end is not None

    def in_range(line: str) -> bool:
        k = " ".join(line.split(" ", 2)[:2])
        return (start is None or k >= start) and (end is None or k < end)

    def bad(shard: str, off: int, what: str, n_lines: int = 0) -> None:
        if not skip_bad:
            raise IOError(f"{what} in {shard} at offset {off}; read with "
                          f"skip_bad to salvage")
        log.warning("skip-bad: %s in %s@%s, salvaged %d lines",
                    what, shard, off, n_lines)
        if bad_acc is not None:
            bad_acc.add(1)

    for *_key, shard, off, length in spans:
        lost: list[Exception] = []

        def chunks():
            try:
                yield from fsio.read_range_chunks(
                    fsio.join(cluster_dir, shard), off, length,
                    READ_CHUNK_BYTES, filesystem,
                )
            except (OSError, EOFError) as e:  # unreadable or short shard
                lost.append(e)

        tail_clean = True
        for rel, text, clean in gzip_members(chunks()):
            tail_clean = clean
            if not clean:
                bad(shard, off + rel, "corrupt gzip member", text.count("\n"))
            lines = block_lines(text)
            if bounded:
                lines = [line for line in lines if in_range(line)]
            if lines:
                yield lines
        if lost and tail_clean:  # else the cut member was reported above
            bad(shard, off, f"unreadable range ({lost[0]})")


def read_lines(*args, **kwargs) -> Iterator[str]:
    """:func:`read_block_lines` flattened to one line at a time."""
    return chain.from_iterable(read_block_lines(*args, **kwargs))


def read_zipnum(
    spark: SparkSession,
    cluster_dir: str,
    skip_bad: bool = False,
    filesystem=None,
) -> DataFrame:
    """Read a whole ZipNum cluster back into a text DataFrame ('value')."""
    return zipnum_range(
        spark, cluster_dir, None, None, skip_bad=skip_bad, filesystem=filesystem
    )


def load_summary(
    spark: SparkSession, cluster_dir: str, filesystem=None
) -> DataFrame:
    """ALL.summary as a DataFrame. Spark's own CSV reader handles every
    Hadoop-FS scheme (file/hdfs/s3a/gs/…); for pyarrow-only filesystems
    (explicit ``filesystem=`` or a non-Hadoop URI) the summary — 1/3000 of
    the data — is read driver-side through fsio and parallelized."""
    path = fsio.join(cluster_dir, "ALL.summary")
    if filesystem is None and fsio.spark_can_read(path):
        # quote disabled: the file is RAW tab-separated text; the CSV
        # default quote='"' would strip/merge around a double quote in a
        # SURT key (real in archived query strings), silently corrupting
        # summary keys on this fast path only
        df = (
            spark.read.schema(ZIPNUM_IDX_SCHEMA)
            .option("sep", "\t")
            .option("quote", "")
            .csv(path)
        )
        # CSV PERMISSIVE mode nulls empty fields; the fsio branch returns
        # '' for an empty key — coalesce so a null summary_key can never
        # make a range predicate three-valued and silently drop the block
        return df.withColumn(
            "summary_key", F.coalesce(F.col("summary_key"), F.lit(""))
        )
    return spark.createDataFrame(
        read_summary_rows(cluster_dir, filesystem), ZIPNUM_IDX_SCHEMA
    )


def zipnum_range(
    spark: SparkSession,
    cluster_dir: str,
    start: str | None,
    end: str | None,
    skip_bad: bool = False,
    filesystem=None,
) -> DataFrame:
    """Bounded [start, end) scan over a ZipNum cluster.

    The driver streams ``ALL.summary`` through :func:`plan_blocks` before
    any data I/O: a block is fetched iff its key range [summary_key,
    next_summary_key) can intersect [start, end) — exactly
    CDXCluster.getRangeBlockIterator's binary-search semantics
    (cdx/CDXCluster.java:31-43). The kept blocks form ``defaultParallelism``
    byte-balanced spans, one task each, read by :func:`read_block_lines`:
    one job, one stage.

    Planning happens at the CALL (a malformed summary raises
    ``ValueError`` here), and the spans are frozen into the DataFrame: do
    not reuse it after its cluster is rewritten.

    With ``skip_bad`` (the reference's ``--skip-bad``), corrupt members are
    salvaged + counted instead of failing the job; the skip count is exposed
    as ``df.skip_bad_count`` (a Spark accumulator, valid after an action;
    accumulators in transformations are AT-LEAST-ONCE — task retries or
    recomputation can overcount, so treat it as an upper-bound signal,
    not an exact tally).
    """
    sc = spark.sparkContext
    spans = plan_blocks(
        partial(iter_summary_rows, cluster_dir, filesystem), start, end,
        sc.defaultParallelism,
    )
    acc = sc.accumulator(0) if skip_bad else None

    def loader(part: Iterator[Span]) -> Iterator[tuple[str]]:
        for line in read_lines(
            cluster_dir, part, start, end, skip_bad, acc, filesystem
        ):
            yield (line,)

    rdd = sc.parallelize(spans, max(len(spans), 1)).mapPartitions(loader)
    df = spark.createDataFrame(rdd, "value: string")
    if acc is not None:
        df.skip_bad_count = acc
    return df
