"""``python -m ia_hadoop_tools_spark <tool> ...`` — the JobDriver CLI surface.

The reference registers ~22 tools in jobs/JobDriver.java:20-131; every
in-scope tool maps here to a thin shim over the package's DataFrame
operators (the "plan" is Catalyst's job now, not hand-wired JobConfs).
Out-of-scope services (gzrange-server/client HTTP daemons, Petabox FS,
HBase/Cassandra connectors) are intentionally absent — see SURVEY.md §2.

Local/posix paths stand in for HDFS URIs: on a real cluster these commands
run unchanged against any Hadoop-compatible filesystem Spark is configured
for (s3a://, hdfs://, ...), except the byte-seek utilities which use
Python file IO.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys


def _spark(args):
    from ia_hadoop_tools_spark.session import get_spark

    return get_spark(app_name=f"iht-{args.tool}")


def _read_cdx(spark, inputs):
    from ia_hadoop_tools_spark.operators.parse import parse_cdx, read_cdx_text

    return parse_cdx(read_cdx_text(spark, list(inputs)))


def cmd_cdx_convert(args):
    """cdx-convert (CDXConverterTool.java:15-51): CDX text -> SURT-keyed CDX."""
    from pyspark.sql import functions as F

    from ia_hadoop_tools_spark.functions.surt import surt_expr
    from ia_hadoop_tools_spark.operators.parse import cdx_to_text

    spark = _spark(args)
    df = _read_cdx(spark, args.input)
    df = df.withColumn("urlkey", surt_expr(F.col("original_url")))
    for line in cdx_to_text(df).toLocalIterator():
        sys.stdout.write(line.value + "\n")


def cmd_cluster_build(args):
    """cluster-build (jobs/BuildCluster.java:71-209): text -> sorted cluster."""
    from ia_hadoop_tools_spark.operators.cluster import write_cluster
    from ia_hadoop_tools_spark.plans.partitioning import (
        parse_splitfile,
        write_named_shards,
    )

    spark = _spark(args)
    df = _read_cdx(spark, args.input)
    if args.split_file:
        splits = parse_splitfile(spark, args.split_file)
        write_named_shards(df, args.output, splits)
    else:
        write_cluster(df, args.output, num_ranges=args.num_ranges)
    print(f"cluster written: {args.output}")


def cmd_zipnum_writer(args):
    """zipnum-writer (io/ZipNumWriterTool.java:26-45): text -> ZipNum shard(s)."""
    from ia_hadoop_tools_spark.sources.zipnum import write_zipnum

    spark = _spark(args)
    df = spark.read.option("lineSep", "\n").text(args.input)
    write_zipnum(
        df, args.output, lines_per_block=args.count, num_shards=args.num_shards
    )
    print(f"zipnum cluster written: {args.output}")


def cmd_merge_clusters(args):
    """merge-clusters (jobs/MergeClusters.java:68-155): N clusters -> one."""
    from ia_hadoop_tools_spark.operators.merge import merge_clusters

    spark = _spark(args)
    dfs = [spark.read.parquet(p) for p in args.input]
    merged = merge_clusters(
        dfs, daily_limit=args.daily_limit, num_ranges=args.num_ranges
    )
    merged.write.mode("overwrite").parquet(args.output)
    print(f"merged {len(dfs)} clusters -> {args.output}")


def cmd_cluster_merge(args):
    """cluster-merge (jobs/MergeCluster.java:44-80): re-shard one cluster."""
    from ia_hadoop_tools_spark.operators.cluster import build_cluster

    spark = _spark(args)
    df = spark.read.parquet(args.input)
    build_cluster(df, num_ranges=args.num_ranges).write.mode("overwrite").parquet(
        args.output
    )
    print(f"re-sharded {args.input} -> {args.output} ({args.num_ranges} ranges)")


def cmd_cluster_range(args):
    """cluster-range (cdx/CDXClusterRangeDumper.java:39-74): bounded dump."""
    from ia_hadoop_tools_spark.operators.cluster import cluster_range
    from ia_hadoop_tools_spark.operators.parse import cdx_to_text
    from ia_hadoop_tools_spark.sources.zipnum import zipnum_range

    spark = _spark(args)
    outs = []
    for c in args.cluster:
        if os.path.exists(os.path.join(c, "ALL.summary")):
            outs.append(
                zipnum_range(spark, c, args.start, args.end,
                             skip_bad=getattr(args, 'skip_bad', False))
            )
        else:
            outs.append(
                # sorted_output=False: only the final merged sort below
                # determines output order — a per-cluster sort here would
                # be a second full shuffle of every cluster
                cdx_to_text(
                    cluster_range(
                        c, args.start, args.end, spark=spark,
                        sorted_output=False,
                    )
                )
            )
    merged = outs[0]
    for o in outs[1:]:
        merged = merged.union(o)
    for line in merged.sort("value").toLocalIterator():
        sys.stdout.write(line.value + "\n")


def cmd_summary_generator(args):
    from ia_hadoop_tools_spark.sources.zipnum import summary_generator

    n = summary_generator(args.cluster)
    print(f"ALL.summary rebuilt: {n} idx lines")


def cmd_manifest_aggregator(args):
    from ia_hadoop_tools_spark.sources.zipnum import manifest_aggregator

    names = [l.strip() for l in open(args.basenames) if l.strip()]
    print(manifest_aggregator(args.cluster, names))


def _paths_df(spark, paths):
    return spark.createDataFrame([(p,) for p in paths], "path: string")


def cmd_cdx_generator(args):
    """CDXGenerator (jobs/CDXGenerator.java:75-295): WARCs -> CDX dataset."""
    from ia_hadoop_tools_spark.operators.extract import cdx_generate

    spark = _spark(args)
    cdx_generate(_paths_df(spark, args.input)).write.mode("overwrite").parquet(
        args.output
    )
    print(f"cdx written: {args.output}")


def cmd_corpus_from_warc(args):
    """corpus-from-warc: WARC archives -> the documents-table parquet
    (content-addressed doc_id, text, lang, source/host, n_chars +
    provenance) — the bridge from the web-archive extraction half of
    the engine into the training-corpus half (clean/split/dedup/
    assemble consume the output directly)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from ia_hadoop_tools_spark.operators.extract import warc_to_documents

    spark = _spark(args)
    docs = warc_to_documents(_paths_df(spark, args.input))
    obs = Observation()
    (
        docs.observe(obs, F.count(F.lit(1)).alias("n"))
        .write.mode("overwrite")
        .parquet(args.output)
    )
    print(f"corpus-from-warc: {int(obs.get['n'])} docs -> {args.output}")


def cmd_wat_generator(args):
    from ia_hadoop_tools_spark.operators.extract import wat_generate

    spark = _spark(args)
    wat_generate(_paths_df(spark, args.input)).write.mode("overwrite").parquet(
        args.output
    )
    print(f"wat written: {args.output}")


def cmd_warc_metadata(args):
    from ia_hadoop_tools_spark.operators.extract import warc_metadata_generate

    spark = _spark(args)
    warc_metadata_generate(_paths_df(spark, args.input)).write.mode(
        "overwrite"
    ).parquet(args.output)
    print(f"metadata records written: {args.output}")


def cmd_archive_file_extractor(args):
    """ArchiveFileExtractor: spec CSV (prefix,path,offset[,seq]) -> archives."""
    from ia_hadoop_tools_spark.operators.extract import archive_file_extractor

    spark = _spark(args)
    spec = spark.read.option("header", "true").option("inferSchema", "true").csv(
        args.spec
    )
    for r in archive_file_extractor(spec, args.output, fmt=args.format).collect():
        print(r)


def cmd_httpimport(args):
    """httpimport (jobs/HTTPImportJob.java): parallel idempotent URL import."""
    from ia_hadoop_tools_spark.operators.extract import http_import

    import hashlib
    from urllib.parse import urlsplit

    spark = _spark(args)
    urls = [u.strip() for u in open(args.urls) if u.strip()]
    # name = basename of the URL PATH (query strings are not filenames);
    # distinct URLs sharing a basename get a short url-hash suffix —
    # otherwise one import silently overwrites (or idempotently skips)
    # the other
    base_names = [
        os.path.basename(urlsplit(u).path.rstrip("/")) or "index" for u in urls
    ]
    seen: dict[str, int] = {}
    for n in base_names:
        seen[n] = seen.get(n, 0) + 1
    rows = []
    for u, n in zip(urls, base_names):
        if seen[n] > 1:
            n = f"{hashlib.sha1(u.encode()).hexdigest()[:8]}-{n}"
        rows.append((u, n))
    http_import(
        spark.createDataFrame(rows, "url: string, name: string"),
        args.target,
        soft=not args.hard,
    )
    print(f"imported into {args.target}")


def cmd_hdfs_lsr(args):
    """hdfs-lsr (cdx/HDFSLSR.java) + LSRPigLoader filters."""
    from ia_hadoop_tools_spark.sources.listing import list_files_df

    spark = _spark(args)
    exts = tuple(args.ext) if args.ext else ()
    df = list_files_df(spark, args.path, extensions=exts)
    for r in df.toLocalIterator():
        print(f"{r.size}\t{r.mtime}\t{r.path}")


def cmd_range_dumper(args):
    """range-dumper (cdx/HDFSRangeDumper.java:20-107): PATH[\tOFF\tLEN] lines
    on stdin -> decompressed lines of each byte range on stdout.

    Decompression is member-by-member via the zipnum member walker (the
    reference streamed members the same way): a range cutting the LAST
    member short still dumps every complete member before it, and a
    truncated tail raises neither EOFError nor zlib.error (both of which
    escape a bare ``except OSError``). Non-gzip payloads pass through."""
    from ia_hadoop_tools_spark.sources.zipnum import gzip_members

    for line in sys.stdin:
        parts = line.rstrip("\n").split("\t")
        path = parts[0]
        with open(path, "rb") as fh:
            if len(parts) >= 3:
                fh.seek(int(parts[1]))
                payload = fh.read(int(parts[2]))
            else:
                payload = fh.read()
        if payload[:2] == b"\x1f\x8b":
            text = "".join(t for _off, t, _clean in gzip_members([payload]))
        else:
            text = payload.decode(errors="replace")
        sys.stdout.write(text)


def cmd_hdfs_fseeko(args):
    """hdfs-fseeko (util/HDFSeeko.java:19-37): dump a byte range."""
    with open(args.path, "rb") as fh:
        fh.seek(args.offset)
        sys.stdout.buffer.write(fh.read(args.length))


def cmd_hdfs_mv(args):
    os.replace(args.src, args.dst)


def cmd_hdfs_touch(args):
    open(args.path, "a").close()


def cmd_file_search(args):
    """file-search (FileSearchTool, jobs/JobDriver.java:72-74): byte-offset
    binary search in a SORTED text file; prints every line starting with the
    given prefix. The same binary search the range query does over
    ALL.summary (SortedTextFile semantics), as a standalone utility."""
    prefix = args.key

    def line_at(fh, pos):
        """(line_start_offset, line) for the first full line at/after pos."""
        if pos > 0:
            fh.seek(pos - 1)
            fh.readline()  # consume the partial line
        else:
            fh.seek(0)
        start = fh.tell()
        return start, fh.readline()

    with open(args.file, "rb") as fh:
        fh.seek(0, 2)
        size = fh.tell()
        lo, hi = 0, size
        # find the smallest line-start whose line >= prefix
        while lo < hi:
            mid = (lo + hi) // 2
            start, line = line_at(fh, mid)
            if not line or line.decode(errors="replace").rstrip("\n") >= prefix:
                hi = mid
            else:
                lo = mid + 1
        start, _ = line_at(fh, lo)
        fh.seek(start)
        for raw in fh:
            line = raw.decode(errors="replace").rstrip("\n")
            if not line.startswith(prefix):
                break
            sys.stdout.write(line + "\n")


def cmd_hdfs_sync(args):
    """hdfs-sync (util/HDFSSync.java:19-60): stdin 'SRC TGT' pairs,
    copy-if-absent."""
    for line in sys.stdin:
        parts = line.split()
        if len(parts) != 2:
            continue
        src, tgt = parts
        if not os.path.exists(tgt):
            tmp = tgt + ".TMP"
            shutil.copyfile(src, tmp)
            os.replace(tmp, tgt)
            print(f"copied {src} -> {tgt}")
        else:
            print(f"exists {tgt}")


def cmd_corpus_clean(args):
    """corpus-clean: parquet docs -> quality-filtered, near-dup-deduped
    parquet (the one-command training-corpus cleaning pipeline: quality
    rules -> line dedup -> MinHash near-dup groups -> keep canonical)."""
    from pyspark.sql import functions as F

    from ia_hadoop_tools_spark.operators.components import dedup_groups
    from ia_hadoop_tools_spark.operators.quality import (
        dedup_lines,
        quality_filter,
    )
    from ia_hadoop_tools_spark.operators.textops import minhash_lsh_pairs

    spark = _spark(args)
    docs = spark.read.parquet(args.input)
    n0 = docs.count()
    passed = quality_filter(docs).filter("passes").select("doc_id")
    docs = docs.join(passed, "doc_id")
    if args.line_dedup:
        other = [c for c in docs.columns if c not in ("doc_id", "text")]
        deduped = dedup_lines(docs)
        docs = deduped.join(docs.select("doc_id", *other), "doc_id")
    pairs = minhash_lsh_pairs(docs, threshold=args.threshold)
    keep = dedup_groups(docs, pairs).filter("keep").select("doc_id")
    out = docs.join(keep, "doc_id")
    out.write.mode("overwrite").parquet(args.output)
    n1 = spark.read.parquet(args.output).count()
    # surface the recall-contract change when the default hot-bucket cap
    # actually engaged on this corpus (ADVICE r10; observation already
    # resolved by the write, so this launches no job)
    from ia_hadoop_tools_spark.operators.textops import (
        report_hot_bucket_drops,
    )

    report_hot_bucket_drops(pairs, "corpus-clean minhash_lsh_pairs")
    print(f"corpus-clean: {n0} -> {n1} docs ({args.output})")


def cmd_corpus_sample(args):
    """corpus-sample: deterministic (re-runnable) stratified sampling;
    ``--temperature A --target N`` computes the per-stratum fractions
    with the multilingual-LM temperature scheme (q_s ∝ p_s^alpha,
    oversubscribed strata waterfilled) instead of taking them
    literally."""
    from ia_hadoop_tools_spark.operators.sampling import (
        sample_hash,
        sample_stratified,
        temperature_fractions,
    )

    spark = _spark(args)
    docs = spark.read.parquet(args.input)
    if args.temperature is not None:
        if args.target is None:
            raise SystemExit("--temperature needs --target N")
        if args.fractions:
            raise SystemExit(
                "--temperature computes the fractions itself; drop "
                "--fractions (they would be silently ignored)"
            )
        try:
            fracs = temperature_fractions(
                docs, args.temperature, args.target, args.strata_col
            )
        except ValueError as e:
            raise SystemExit(f"corpus-sample: {e}")
        shown = dict(
            list({k: round(v, 6) for k, v in fracs.items()}.items())[:20]
        )
        more = f" (+{len(fracs) - 20} more)" if len(fracs) > 20 else ""
        print(
            f"corpus-sample: temperature fractions over {len(fracs)} "
            f"strata {shown}{more}; NULL-{args.strata_col} rows excluded"
        )
        out = sample_stratified(docs, fracs, args.strata_col)
    elif args.fractions:
        fracs = dict(
            (kv.split("=")[0], float(kv.split("=")[1]))
            for kv in args.fractions.split(",")
        )
        out = sample_stratified(
            docs, fracs, args.strata_col, default_fraction=args.fraction
        )
    else:
        out = sample_hash(docs, args.fraction)
    out.write.mode("overwrite").parquet(args.output)
    # stats from the WRITTEN parquet (footer metadata), not the lineage —
    # out.count() would re-run the whole sampling scan
    n = spark.read.parquet(args.output).count()
    print(f"corpus-sample: {n} docs -> {args.output}")


def cmd_corpus_pack(args):
    """corpus-pack: assign docs to fixed-token-budget training sequences."""
    from pyspark.sql import functions as F

    from ia_hadoop_tools_spark.functions.textfns import tokens
    from ia_hadoop_tools_spark.operators.sampling import pack_sequences

    spark = _spark(args)
    docs = spark.read.parquet(args.input).withColumn(
        "n_tokens", F.size(tokens(F.col("text"))).cast("long")
    )
    out = pack_sequences(docs, args.budget, strata_col=args.strata_col)
    out.write.mode("overwrite").parquet(args.output)
    # stats read back from the written parquet, not the window lineage
    stats = spark.read.parquet(args.output).agg(
        F.countDistinct("bin").alias("bins"), F.sum("n_tokens").alias("toks")
    ).first()
    print(
        f"corpus-pack: {stats.toks} tokens into {stats.bins} bins of "
        f"{args.budget} -> {args.output}"
    )


def _rename_to(df, src: str, dst: str):
    """Rename ``src`` -> ``dst`` with clean errors on missing/collision
    (a raw withColumnRenamed onto an existing name yields an ambiguous-
    reference AnalysisException several steps later)."""
    if src == dst:
        return df
    if src not in df.columns:
        raise SystemExit(f"no column {src!r} in input")
    if dst in df.columns:
        raise SystemExit(
            f"input already has a {dst!r} column; renaming {src!r} onto it "
            f"would be ambiguous — drop or rename one of them first"
        )
    return df.withColumnRenamed(src, dst)


def cmd_corpus_import(args):
    """corpus-import: JSONL / CSV / parquet -> normalized documents
    parquet (``doc_id`` + ``text`` guaranteed; other columns pass
    through).  JSONL is the interchange format every public text corpus
    ships in.  Parallelism note: gzip is NOT a splittable codec — a
    single huge .jsonl.gz reads on one core; ship MANY shard files (the
    universal convention) and the import is scan-parallel across them.
    Malformed JSON lines fail the import loudly by default
    (``--on-bad-lines drop`` discards them instead; Spark's default
    would otherwise silently import them as null-text rows)."""
    from pyspark.sql import functions as F

    spark = _spark(args)
    if args.format == "jsonl":
        mode = "FAILFAST" if args.on_bad_lines == "fail" else "DROPMALFORMED"
        df = spark.read.option("mode", mode).json(args.input)
    elif args.format == "csv":
        df = (
            spark.read.option("header", True)
            .option("inferSchema", True)
            .csv(args.input)
        )
    else:
        df = spark.read.parquet(args.input)
    df = _rename_to(df, args.text_col, "text")
    if "text" not in df.columns:
        raise SystemExit("input has no 'text' column (use --text-col)")
    if args.id_col:
        # an EXPLICIT --id-col doc_id still demands the column exist —
        # silently falling through to generated ids would hand the user
        # unstable ids they specifically opted out of
        if args.id_col not in df.columns:
            raise SystemExit(f"no column {args.id_col!r} in input")
        df = _rename_to(df, args.id_col, "doc_id")
    if "doc_id" not in df.columns:
        # unique within this import; NOT stable across re-runs (the
        # standard Spark caveat) — pass --id-col for reproducible ids
        df = df.withColumn("doc_id", F.monotonically_increasing_id())
    df = df.withColumn("text", F.col("text").cast("string"))
    df.write.mode("overwrite").parquet(args.output)
    out = spark.read.parquet(args.output)
    n = out.count()
    print(f"corpus-import: {n} docs, columns {sorted(out.columns)} -> {args.output}")


def cmd_corpus_export(args):
    """corpus-export: documents parquet -> sharded JSONL (optionally
    gzip), the interchange format downstream tokenizer/training stacks
    read — or ``--codec zipnum``, the reference's own blocked-gzip
    cluster format, for frames carrying split/shard/pos (a published
    corpus version dir round-trips byte-exactly)."""
    from ia_hadoop_tools_spark.sources import fsio

    spark = _spark(args)
    # a corpus VERSION dir (corpus-assemble output) holds MANIFEST.json
    # + _PUBLISHED beside the split=* dirs — read it through the
    # version-frame helper so split/shard stay partition columns.  The
    # COMMIT marker is what gates readability: a torn save (crash after
    # MANIFEST, before _PUBLISHED) must be refused here exactly like
    # every other version reader.
    from ia_hadoop_tools_spark.streaming.versioned import PUBLISHED_MARKER

    if fsio.exists(fsio.join(args.input, "MANIFEST.json")):
        if not fsio.exists(fsio.join(args.input, PUBLISHED_MARKER)):
            raise SystemExit(
                f"corpus-export: {args.input} is an UNPUBLISHED (torn) "
                "corpus version — no _PUBLISHED marker"
            )
        from ia_hadoop_tools_spark.operators.assemble import (
            read_version_frame,
        )

        df = read_version_frame(spark, args.input)
    else:
        df = spark.read.parquet(args.input)
    if args.shards is not None and args.shards < 1:
        raise SystemExit("--shards must be >= 1")
    if getattr(args, "codec", "jsonl") == "zipnum":
        from ia_hadoop_tools_spark.operators.assemble import (
            export_corpus_zipnum,
        )

        try:
            export_corpus_zipnum(
                df,
                args.output,
                lines_per_block=args.lines_per_block,
                num_shards=args.shards,
            )
        except ValueError as e:
            raise SystemExit(f"corpus-export: {e}")
        print(f"corpus-export: {args.input} -> {args.output} (zipnum)")
        return
    if args.shards is not None:
        df = df.repartition(args.shards)
    w = df.write.mode("overwrite")
    if args.compression != "none":
        w = w.option("compression", args.compression)
    w.json(args.output)
    print(f"corpus-export: {args.input} -> {args.output} (jsonl)")


def _parse_fractions(spec: str) -> list[tuple[str, float]]:
    splits = []
    for kv in spec.split(","):
        name, _, frac = kv.partition("=")
        if not name or not frac:
            raise SystemExit(f"bad --fractions entry (need name=frac): {kv!r}")
        try:
            splits.append((name, float(frac)))
        except ValueError:
            raise SystemExit(f"bad --fractions value (not a number): {kv!r}")
    return splits


def cmd_corpus_assemble(args):
    """corpus-assemble: split -> shuffle -> (optional) pack, published
    atomically as root/vNNN with the _PUBLISHED commit protocol.  One
    invocation = one immutable corpus version; re-run after corpus
    growth (or with --epoch bumped) publishes the next version.
    ``--epochs K`` publishes K versions in one command (epoch
    --epoch .. --epoch+K-1): the whole training run's data, each epoch
    a decorrelated order of the SAME split assignment (the epoch-loop
    contract pinned in tests/test_assemble.py)."""
    from ia_hadoop_tools_spark.operators.assemble import assemble_corpus

    spark = _spark(args)
    docs = spark.read.parquet(args.input)
    if args.shards < 1:
        raise SystemExit("--shards must be >= 1")
    if args.epochs < 1:
        raise SystemExit("--epochs must be >= 1")
    for k in range(args.epochs):
        try:
            vdir = assemble_corpus(
                docs,
                args.root,
                splits=_parse_fractions(args.fractions),
                n_shards=args.shards,
                seed=args.seed,
                epoch=args.epoch + k,
                budget=args.budget,
                token_col=args.token_col,
                id_col=args.id_col,
                keep_versions=args.keep,
                phase_col=args.curriculum_col,
            )
        except ValueError as e:
            raise SystemExit(f"corpus-assemble: {e}")
        print(f"corpus-assemble: published {vdir} (epoch {args.epoch + k})")


def cmd_corpus_shuffle(args):
    """corpus-shuffle: seeded deterministic global training-order shuffle
    into N shard directories (outdir/shard=0/... each one sorted file in
    training order).  Same --seed/--epoch => byte-identical layout at any
    parallelism; bump --epoch per training pass for a fresh decorrelated
    order."""
    from ia_hadoop_tools_spark.operators.sampling import write_shuffled_shards

    spark = _spark(args)
    docs = spark.read.parquet(args.input)
    if args.shards < 1:
        raise SystemExit("--shards must be >= 1")
    # count rides the write (Observation) — re-reading the freshly
    # written shards would double the job's read I/O at scale
    n = write_shuffled_shards(
        docs,
        args.output,
        n_shards=args.shards,
        seed=args.seed,
        epoch=args.epoch,
        id_col=args.id_col,
        phase_col=args.curriculum_col,
    )
    mode = (
        f"curriculum[{args.curriculum_col}]" if args.curriculum_col else "seeded"
    )
    print(
        f"corpus-shuffle: {n} rows -> {args.shards} {mode} shards "
        f"(seed={args.seed}, epoch={args.epoch}) -> {args.output}"
    )


def cmd_corpus_split(args):
    """corpus-split: deterministic train/val/test assignment written as
    one partitioned parquet (outdir/split=train/...).  ONE pass: the
    per-split and unassigned counts ride the write itself as an
    ``Observation`` below the NULL filter (the write_shuffled_shards
    pattern) — no second aggregation job over the input lineage, no
    output read-back."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from ia_hadoop_tools_spark.operators.sampling import split_corpus

    spark = _spark(args)
    docs = spark.read.parquet(args.input)
    splits = _parse_fractions(args.fractions)
    try:
        out = split_corpus(docs, splits)
    except ValueError as e:
        raise SystemExit(f"bad --fractions: {e}")
    obs = Observation()
    (
        out.observe(
            obs,
            *[
                F.sum(
                    F.when(F.col("split") == name, 1).otherwise(0)
                ).alias(f"n_{i}")
                for i, (name, _) in enumerate(splits)
            ],
            F.sum(
                F.when(F.col("split").isNull(), 1).otherwise(0)
            ).alias("n_unassigned"),
        )
        .filter("split IS NOT NULL")
        .write.mode("overwrite")
        .partitionBy("split")
        .parquet(args.output)
    )
    got = obs.get
    counts = {
        name: int(got[f"n_{i}"] or 0)
        for i, (name, _) in enumerate(splits)
        if (got[f"n_{i}"] or 0) > 0
    }
    n_un = int(got["n_unassigned"] or 0)
    print(
        f"corpus-split: {counts} assigned, {n_un} unassigned -> {args.output}"
    )


def cmd_corpus_buckets(args):
    """corpus-buckets: CCNet-style quality bucketing (Wenzek et al.
    2020) — train an n-gram LM on a reference corpus (default: the
    corpus itself), score every doc, cut head/middle/tail from a
    bounded calibration slice, write (doc_id, lm_score, bucket, ...)
    parquet.  --unit char|word|backoff selects the scorer; the bucket
    histogram rides the write as an Observation (no second pass)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from ia_hadoop_tools_spark.operators.lm_quality import (
        lm_buckets,
        lm_score,
        lm_score_backoff,
        train_char_lm,
        train_word_backoff_lm,
        train_word_lm,
    )

    spark = _spark(args)
    docs = spark.read.parquet(args.input)
    ref = spark.read.parquet(args.reference) if args.reference else docs
    if args.unit == "backoff":
        model = train_word_backoff_lm(ref, vocab_size=args.vocab).persist()
        scored = lm_score_backoff(docs, model, alpha=args.alpha)
    elif args.unit == "word":
        model = train_word_lm(ref, vocab_size=args.vocab).persist()
        scored = lm_score(docs, model, unit="word")
    else:
        model = train_char_lm(ref).persist()
        scored = lm_score(docs, model, unit="char")
    # bounded calibration slice: content-addressed hash fraction sized
    # from one cheap count, so it works for ANY doc_id type (a dense-id
    # predicate like doc_id < N keeps half the corpus when ids are
    # signed hashes, e.g. corpus-from-warc output).  The shared
    # hash_fraction_predicate keeps >= one grid step for any nonzero
    # fraction (raw truncation selected an EMPTY slice past 1e6x the
    # cal size) and is the engine's one hash-sampling convention.
    # 0 calibrates on all scored rows — fine at CLI scale, not 100 TB.
    cal = None
    if args.cal_docs:
        from ia_hadoop_tools_spark.operators.sampling import (
            hash_fraction_predicate,
        )

        n_docs = docs.count()
        frac = min(1.0, args.cal_docs / max(n_docs, 1))
        cal = hash_fraction_predicate("doc_id", frac, salt="cal:")
    out = lm_buckets(
        scored.filter(F.col("lm_score").isNotNull()), calibration=cal
    )
    obs = Observation()
    (
        out.observe(
            obs,
            *[
                F.sum(F.when(F.col("bucket") == b, 1).otherwise(0)).alias(b)
                for b in ("head", "middle", "tail")
            ],
        )
        .write.mode("overwrite")
        .parquet(args.output)
    )
    model.unpersist()
    got = obs.get
    hist = {b: int(got[b] or 0) for b in ("head", "middle", "tail")}
    print(f"corpus-buckets[{args.unit}]: {hist} -> {args.output}")


def cmd_corpus_classify(args):
    """corpus-classify: GPT-3-style linear quality filter (Brown et al.
    2020 App. A) — train a Multinomial-NB token classifier on a
    high-quality --pos reference vs a --neg reference (default: the
    input corpus itself, the original setup: curated-vs-raw-web), score
    every doc with the broadcast model, write (doc_id, nb_llr,
    n_tokens) parquet.  The kept/dropped histogram at --threshold rides
    the write as an Observation (no second pass)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from ia_hadoop_tools_spark.operators.classifier import (
        nb_quality_score,
        train_nb_quality,
    )

    spark = _spark(args)
    docs = spark.read.parquet(args.input)
    pos = spark.read.parquet(args.pos)
    neg = spark.read.parquet(args.neg) if args.neg else docs
    model = train_nb_quality(pos, neg, vocab_size=args.vocab).persist()
    out = nb_quality_score(docs, model)
    obs = Observation()
    (
        out.observe(
            obs,
            F.sum(
                F.when(F.col("nb_llr") > args.threshold, 1).otherwise(0)
            ).alias("n_keep"),
            F.count("*").alias("n_docs"),
        )
        .write.mode("overwrite")
        .parquet(args.output)
    )
    model.unpersist()
    got = obs.get
    n_keep, n_docs = int(got["n_keep"] or 0), int(got["n_docs"] or 0)
    print(
        f"corpus-classify: {n_keep}/{n_docs} docs above "
        f"llr={args.threshold} -> {args.output}"
    )


def cmd_corpus_langid(args):
    """corpus-langid: language identification over a documents parquet.
    Default is the zero-model stopword-vote heuristic; --model (a
    train_lang_nb parquet: lang, ngram, logp) or --train (a labeled
    parquet with --label-col) switches to the trained char n-gram NB
    path (CCNet/fastText-style, operators/langid.py).  Writes (doc_id,
    lang_pred[, lang_score, n_grams]); doc and distinct-language counts
    ride the write as an Observation (no second pass)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from ia_hadoop_tools_spark.operators.langid import (
        DEFAULT_LABEL_COL,
        DEFAULT_MAX_CHARS,
        DEFAULT_N,
        DEFAULT_VOCAB_SIZE,
    )

    if args.model and args.train:
        raise SystemExit("corpus-langid: pass --model OR --train, not both")
    # flags only one path consumes are refused on the others instead of
    # silently ignored (the corpus-tokenize --merges guard rule):
    # --label-col/--vocab shape TRAINING only; --n/--max-chars apply to
    # any trained-model path (they must match training); --model-out
    # re-saves whichever model is in play.
    if not (args.model or args.train):
        stray = [
            flag
            for flag, val in (
                ("--model-out", args.model_out),
                ("--label-col", args.label_col),
                ("--n", args.n),
                ("--vocab", args.vocab),
                ("--max-chars", args.max_chars),
            )
            if val is not None
        ]
        if stray:
            raise SystemExit(
                f"corpus-langid: {'/'.join(stray)} need a trained model "
                "— pass --model FILE or --train FILE (the default is "
                "the zero-model stopword heuristic)"
            )
    if args.model:
        stray = [
            flag
            for flag, val in (
                ("--label-col", args.label_col),
                ("--vocab", args.vocab),
            )
            if val is not None
        ]
        if stray:
            raise SystemExit(
                f"corpus-langid: {'/'.join(stray)} only shape TRAINING "
                "— they do nothing with a pre-trained --model; pass "
                "--train FILE to train"
            )
    label_col = (
        args.label_col if args.label_col is not None else DEFAULT_LABEL_COL
    )
    n = args.n if args.n is not None else DEFAULT_N
    vocab = args.vocab if args.vocab is not None else DEFAULT_VOCAB_SIZE
    max_chars = (
        args.max_chars if args.max_chars is not None else DEFAULT_MAX_CHARS
    )
    spark = _spark(args)
    docs = spark.read.parquet(args.input)
    if args.model or args.train:
        from ia_hadoop_tools_spark.operators.langid import (
            lang_nb,
            train_lang_nb,
        )

        if args.model:
            model = spark.read.parquet(args.model)
        else:
            labeled = spark.read.parquet(args.train)
            model = train_lang_nb(
                labeled,
                label_col=label_col,
                n=n,
                vocab_size=vocab,
                max_chars=max_chars,
            )
        model = model.persist()
        out = lang_nb(docs, model, n=n, max_chars=max_chars)
        if args.model_out:
            model.write.mode("overwrite").parquet(args.model_out)
    else:
        from ia_hadoop_tools_spark.operators.textops import language_id

        out = language_id(docs).select("doc_id", "lang_pred")
    obs = Observation()
    (
        # Observations reject DISTINCT aggregates; the HLL estimate is
        # exact at these cardinalities (n_langs is tiny by construction)
        out.observe(
            obs, F.approx_count_distinct("lang_pred").alias("n_langs"),
            F.count("*").alias("n_docs"),
        )
        .write.mode("overwrite")
        .parquet(args.output)
    )
    print(
        f"corpus-langid: {obs.get['n_docs']} docs, "
        f"{obs.get['n_langs']} languages -> {args.output}"
    )


def cmd_corpus_prune(args):
    """corpus-prune: D4-style cluster-aware pruning (Tirumala et al.
    2023) over an embeddings parquet — train a spherical k-means
    quantizer (or load --centroids), assign, rank by prototypicality,
    write keep/drop verdicts.  Kept-count rides the write as an
    Observation."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from ia_hadoop_tools_spark.operators.similarity import (
        prototype_prune,
        train_ivf_centroids,
    )

    spark = _spark(args)
    emb = spark.read.parquet(args.input)
    if args.centroids:
        cent = spark.read.parquet(args.centroids)
    else:
        cent = (
            train_ivf_centroids(
                emb, num_centroids=args.k, id_col=args.id_col,
                vec_col=args.vec_col,
            )
            .select(
                F.col("__cid").alias("centroid_id"),
                F.col("__cvec").alias("centroid"),
            )
            .persist()
        )
    out = prototype_prune(
        emb, cent, keep_frac=args.keep_frac, drop=args.drop,
        id_col=args.id_col, vec_col=args.vec_col,
    )
    obs = Observation()
    (
        out.observe(
            obs,
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_keep"),
            F.count("*").alias("n_docs"),
        )
        .write.mode("overwrite")
        .parquet(args.output)
    )
    if not args.centroids:
        cent.unpersist()
    got = obs.get
    n_keep, n_docs = int(got["n_keep"] or 0), int(got["n_docs"] or 0)
    print(
        f"corpus-prune[{args.drop}]: keep {n_keep}/{n_docs} "
        f"-> {args.output}"
    )


def cmd_corpus_stats(args):
    """corpus-stats: per-source corpus report card — docs, tokens
    (the same word rule corpus-pack budgets against), chars, unique
    texts, exact-dup fraction.  One aggregation job; output is bounded
    by the number of sources, so the collect is metadata-sized."""
    from ia_hadoop_tools_spark.operators.textops import corpus_stats

    spark = _spark(args)
    docs = spark.read.parquet(args.input)
    out = corpus_stats(
        docs,
        by=None if args.all else args.by,
        text_col=args.text_col,
        distinct="approx" if args.approx else "exact",
    )
    if args.output:
        out.write.mode("overwrite").parquet(args.output)
        out = spark.read.parquet(args.output)
    for r in sorted(out.collect(), key=lambda r: str(r["source"])):
        print(
            f"corpus-stats: {r['source']}: docs={r['n_docs']} "
            f"tokens={r['n_tokens']} mean={r['mean_tokens']:.1f} "
            f"max={r['max_tokens']} chars={r['n_chars']} "
            f"unique={r['n_unique_texts']} dup_frac={r['dup_frac']:.4f}"
        )


def cmd_corpus_verify(args):
    """corpus-verify: fsck a published corpus version before pointing a
    training run at it — counts vs manifest, split/shard domains, dense
    per-shard pos, optional id uniqueness.  Exits nonzero on failure."""
    import json as _json

    from ia_hadoop_tools_spark.operators.assemble import (
        verify_corpus_version,
    )

    spark = _spark(args)
    report = verify_corpus_version(
        spark, args.root, version=args.version,
        # 'auto' = the manifest's own recorded id column; '' skips
        id_col=args.id_col or None,
    )
    print(f"corpus-verify: {_json.dumps(report, sort_keys=True)}")
    if not report["ok"]:
        raise SystemExit(1)


def cmd_corpus_diff(args):
    """corpus-diff: what changed between two published corpus versions
    (default: latest vs the one before) — manifest-level deltas plus
    per-(split, shard, status) placement counts; --detail-out writes the
    per-document diff as parquet.  The question a training team asks
    before re-training: an epoch-only re-shuffle shows zero
    added/removed and nonzero moved/reordered."""
    import json as _json

    from ia_hadoop_tools_spark.operators.assemble import (
        corpus_diff,
        corpus_diff_summary,
        corpus_manifest_diff,
    )

    spark = _spark(args)
    mdiff = corpus_manifest_diff(args.root, args.va, args.vb)
    detail = corpus_diff(
        spark, args.root, args.va, args.vb, id_col=args.id_col or None
    )
    if args.detail_out:
        detail.write.mode("overwrite").parquet(args.detail_out)
        detail = spark.read.parquet(args.detail_out)  # reuse, don't recompute
    rows = corpus_diff_summary(detail).collect()
    summary = {
        f"{r['split']}/shard={r['shard']}/{r['status']}": int(r["n_docs"])
        for r in rows
    }
    by_status: dict = {}
    for r in rows:
        by_status[r["status"]] = by_status.get(r["status"], 0) + int(r["n_docs"])
    print(
        "corpus-diff: "
        + _json.dumps(
            {"manifest": mdiff, "by_status": by_status, "by_shard": summary},
            sort_keys=True,
        )
    )


def cmd_corpus_leakage(args):
    """corpus-leakage: eval-split contamination audit — exact text
    groups straddling splits (split_leakage), plus ``--near`` MinHash
    near-dup pairs whose sides land in different splits
    (split_leakage_near, the contamination mode real corpora have after
    exact dedup).  Optionally writes the findings as parquet."""
    from ia_hadoop_tools_spark.operators.sampling import (
        split_leakage,
        split_leakage_near,
    )

    spark = _spark(args)
    docs = spark.read.parquet(args.input)
    splits = _parse_fractions(args.fractions)
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    def _emit(df, sub: str) -> int:
        # counts ride the write as an Observation (the corpus-split
        # rule: no second pass, no output read-back)
        if not args.output:
            return df.count()
        obs = Observation()
        (
            df.observe(obs, F.count(F.lit(1)).alias("n"))
            .write.mode("overwrite")
            .parquet(args.output + "/" + sub)
        )
        return int(obs.get["n"])

    try:
        exact = split_leakage(docs, splits, text_col=args.text_col)
    except ValueError as e:
        raise SystemExit(f"bad --fractions: {e}")
    n_exact = _emit(exact, "exact")
    print(f"corpus-leakage: {n_exact} exact cross-split text groups")
    if args.near:
        near = split_leakage_near(
            docs, splits, text_col=args.text_col, threshold=args.threshold
        )
        n_near = _emit(near, "near")
        near.shingle_cache.unpersist()
        print(
            f"corpus-leakage: {n_near} near-dup cross-split pairs "
            f"(jaccard >= {args.threshold})"
        )


def cmd_corpus_tokenize(args):
    """corpus-tokenize: per-doc BPE tokenization / token counting.

    Merge table comes from ``--merges FILE`` (TSV ``a<TAB>b`` per line,
    training order) or is trained in-process with ``--train N`` (and
    written back via ``--merges-out`` for reuse — training once and
    encoding many corpora is the production shape).

    ``--tokenizer unigram`` switches to the SentencePiece-style
    unigram-LM family (operators/unigram.py): the model is a (piece,
    logp) parquet loaded with ``--model`` or trained with ``--train
    VOCAB_SIZE`` (written back via ``--model-out``); output is the
    per-doc (n_words, n_tokens) Viterbi counts."""
    from ia_hadoop_tools_spark.operators.bpe import (
        bpe_encode,
        bpe_token_counts,
        bpe_train,
    )

    spark = _spark(args)
    docs = spark.read.parquet(args.input)
    if args.tokenizer == "unigram":
        from ia_hadoop_tools_spark.operators.unigram import (
            train_unigram_lm,
            unigram_token_counts,
        )

        if args.merges or args.merges_out:
            raise SystemExit(
                "corpus-tokenize: --merges/--merges-out are BPE flags; "
                "unigram uses --model/--model-out"
            )
        if args.emit != "counts":
            raise SystemExit("--tokenizer unigram supports --emit counts")
        if args.model:
            model = spark.read.parquet(args.model)
        elif args.train is not None:
            model = train_unigram_lm(docs, vocab_size=args.train)
        else:
            raise SystemExit("pass --model FILE or --train VOCAB_SIZE")
        if args.model_out:
            model.write.mode("overwrite").parquet(args.model_out)
            model = spark.read.parquet(args.model_out)
        out = unigram_token_counts(docs, model)
        out.write.mode("overwrite").parquet(args.output)
        n = spark.read.parquet(args.output).count()
        n_pieces = model.count()
        print(
            f"corpus-tokenize: {n} rows (counts) with a {n_pieces}-piece "
            f"unigram model -> {args.output}"
        )
        return
    if args.model or args.model_out:
        raise SystemExit(
            "corpus-tokenize: --model/--model-out are unigram flags; "
            "bpe uses --merges/--merges-out (pass --tokenizer unigram?)"
        )
    if args.merges:
        with open(args.merges, encoding="utf-8") as fh:
            merges = []
            for ln in fh:
                ln = ln.rstrip("\r\n")
                if not ln:
                    continue
                a, _, b = ln.partition("\t")
                if not a or not b:
                    raise SystemExit(f"bad merges line (need a<TAB>b): {ln!r}")
                merges.append((a, b))
    elif args.train is not None:
        merges = [(a, b) for a, b, _ in bpe_train(docs, num_merges=args.train)]
        if args.merges_out:
            with open(args.merges_out, "w", encoding="utf-8") as fh:
                for a, b in merges:
                    fh.write(f"{a}\t{b}\n")
    else:
        raise SystemExit("pass --merges FILE or --train N")
    try:
        if args.emit == "tokens":
            out = bpe_encode(docs, merges)
        else:
            out = bpe_token_counts(docs, merges)
    except ValueError as e:
        # reserved-marker merge symbols (operators/bpe._check_merges)
        # surface as the CLI's error style, not a traceback
        raise SystemExit(f"bad --merges table: {e}")
    out.write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count()
    print(
        f"corpus-tokenize: {n} rows ({args.emit}) with {len(merges)} merges "
        f"-> {args.output}"
    )


def cmd_corpus_chunk(args):
    """corpus-chunk: overlapping token-window chunks for embedding /
    retrieval pipelines."""
    from ia_hadoop_tools_spark.operators.chunking import chunk_documents

    spark = _spark(args)
    docs = spark.read.parquet(args.input)
    out = chunk_documents(
        docs, chunk_tokens=args.chunk_tokens, stride=args.stride
    )
    out.write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count()
    print(
        f"corpus-chunk: {n} chunks of {args.chunk_tokens} "
        f"(stride {args.stride or args.chunk_tokens}) -> {args.output}"
    )


def cmd_cdxj_convert(args):
    """cdxj-convert: CDX text -> CDXJ lines (pywb JSON-lines index)."""
    from ia_hadoop_tools_spark.operators.parse import cdx_to_cdxj

    spark = _spark(args)
    for line in cdx_to_cdxj(_read_cdx(spark, args.input)).toLocalIterator():
        sys.stdout.write(line.value + "\n")


def cmd_corpus_decontam(args):
    """corpus-decontam: drop docs overlapping a benchmark/eval parquet
    (n-gram window overlap; the pre-training decontamination step).
    ``--fuzzy`` switches to MinHash-LSH near-duplicate matching
    (shingle-Jaccard >= --threshold), which catches lightly edited
    benchmark leakage the exact window path misses."""
    spark = _spark(args)
    corpus = spark.read.parquet(args.input)
    bench = spark.read.parquet(args.benchmark)
    n0 = corpus.count()
    if args.fuzzy:
        from ia_hadoop_tools_spark.operators.decontam import (
            decontaminate_fuzzy,
        )

        bid = "bench_id" if "bench_id" in bench.columns else "doc_id"
        out = decontaminate_fuzzy(
            corpus, bench, bench_id_col=bid, threshold=args.threshold
        )
    else:
        from ia_hadoop_tools_spark.operators.decontam import decontaminate

        out = decontaminate(
            corpus, bench, n=args.ngram, min_overlap=args.min_overlap
        )
    out.write.mode("overwrite").parquet(args.output)
    n1 = spark.read.parquet(args.output).count()
    mode = "fuzzy" if args.fuzzy else "exact"
    print(
        f"corpus-decontam[{mode}]: {n0} -> {n1} docs "
        f"({n0 - n1} contaminated dropped) -> {args.output}"
    )


def cmd_gzrange_server(args):
    """gzrange-server: HTTP server answering one-gzip-member range requests
    (server/GZRangeServer.java:29-50; default port 8009)."""
    from ia_hadoop_tools_spark.sources.gzrange_server import serve

    print(
        f"gzrange-server: listening on 127.0.0.1:{args.port}"
        f" (root: {args.root or 'unconfined'})"
    )
    serve(args.port, root_dir=args.root)


def cmd_http_export(args):
    """http-export: push a parquet table to an HTTP endpoint in bounded
    async batches (the Cassandra importer shape, cassandra/CDXImporter.java:
    36-70 — batch_size rows per POST, max_in_flight futures, idempotent
    batch ids)."""
    from ia_hadoop_tools_spark.sources.batched_sink import (
        http_json_sender,
        write_batched_async,
    )

    spark = _spark(args)
    df = spark.read.parquet(args.input)
    stats = write_batched_async(
        df,
        http_json_sender(args.url, cookie=args.cookie),
        batch_size=args.batch_size,
        max_in_flight=args.max_in_flight,
        retries=args.retries,
    )
    print(
        f"http-export: {stats['rows']} rows in {stats['batches']} batches "
        f"-> {args.url} ({stats['retries']} retries)"
    )


def cmd_cdx_server(args):
    """cdx-server: serve a ZipNum cluster over the HttpTextLoader paging
    contract (pig/HttpTextLoader.java:80-138; default port 8010)."""
    from ia_hadoop_tools_spark.sources.cdx_http_server import serve

    print(f"cdx-server: serving {args.cluster} on 127.0.0.1:{args.port}")
    serve(args.cluster, args.port, args.page_size)


def cmd_zorder_write(args):
    """zorder-write: re-cluster a parquet table on the Morton curve of two
    or more integer columns, so row-group min/max stats prune scans
    filtering on ANY of them (plans/zorder.py)."""
    from ia_hadoop_tools_spark.plans.zorder import write_zordered

    spark = _spark(args)
    df = spark.read.parquet(args.input)
    write_zordered(
        df, args.output, args.columns, bits=args.bits, num_files=args.num_files
    )
    print(
        f"zorder-write: {args.input} -> {args.output} "
        f"(cols={','.join(args.columns)}, {args.num_files} files)"
    )


def main(argv=None):
    p = argparse.ArgumentParser(
        prog="ia_hadoop_tools_spark", description=__doc__
    )
    sub = p.add_subparsers(dest="tool", required=True)

    s = sub.add_parser(
        "zorder-write",
        help="re-cluster parquet on a Morton key for multi-column pruning",
    )
    s.add_argument("input")
    s.add_argument("output")
    s.add_argument("columns", nargs="+", help="two or more integer columns")
    s.add_argument("--bits", type=int, default=16)
    s.add_argument("--num-files", type=int, default=8)
    s.set_defaults(fn=cmd_zorder_write)

    s = sub.add_parser(
        "gzrange-server",
        help="HTTP server for one-gzip-member unbounded range requests",
    )
    s.add_argument("port", nargs="?", type=int, default=8009)
    s.add_argument("--root", help="serve only files under this directory")
    s.set_defaults(fn=cmd_gzrange_server)

    s = sub.add_parser(
        "http-export",
        help="push a parquet table to an HTTP endpoint in async batches",
    )
    s.add_argument("input")
    s.add_argument("url")
    s.add_argument("--batch-size", type=int, default=10_000)
    s.add_argument("--max-in-flight", type=int, default=8)
    s.add_argument("--retries", type=int, default=3)
    s.add_argument("--cookie")
    s.set_defaults(fn=cmd_http_export)

    s = sub.add_parser(
        "cdx-server",
        help="serve a ZipNum cluster over the paged CDX query contract",
    )
    s.add_argument("cluster")
    s.add_argument("port", nargs="?", type=int, default=8010)
    s.add_argument("--page-size", type=int, default=10)
    s.set_defaults(fn=cmd_cdx_server)

    s = sub.add_parser("cdxj-convert", help="CDX text -> CDXJ lines")
    s.add_argument("input", nargs="+")
    s.set_defaults(fn=cmd_cdxj_convert)

    s = sub.add_parser(
        "corpus-decontam", help="drop docs overlapping a benchmark set"
    )
    s.add_argument("input")
    s.add_argument("benchmark")
    s.add_argument("output")
    s.add_argument("--ngram", type=int, default=8)
    s.add_argument("--min-overlap", type=int, default=1)
    s.add_argument(
        "--fuzzy",
        action="store_true",
        help="MinHash-LSH near-duplicate matching instead of exact windows",
    )
    s.add_argument(
        "--threshold",
        type=float,
        default=0.5,
        help="shingle-Jaccard threshold for --fuzzy",
    )
    s.set_defaults(fn=cmd_corpus_decontam)

    s = sub.add_parser(
        "corpus-clean", help="quality filter + dedup a document corpus"
    )
    s.add_argument("input")
    s.add_argument("output")
    s.add_argument("--threshold", type=float, default=0.8)
    s.add_argument("--line-dedup", action="store_true")
    s.set_defaults(fn=cmd_corpus_clean)

    s = sub.add_parser("corpus-sample", help="deterministic corpus sampling")
    s.add_argument("input")
    s.add_argument("output")
    s.add_argument("--fraction", type=float, default=0.1)
    s.add_argument("--fractions", help="per-stratum, e.g. src0=0.9,src1=0.1")
    s.add_argument("--strata-col", default="source")
    s.add_argument("--temperature", type=float, default=None,
                   help="compute fractions: q_s ~ p_s^alpha (needs --target)")
    s.add_argument("--target", type=int, default=None,
                   help="expected kept rows for --temperature")
    s.set_defaults(fn=cmd_corpus_sample)

    s = sub.add_parser("corpus-pack", help="pack docs into token-budget bins")
    s.add_argument("input")
    s.add_argument("output")
    s.add_argument("--budget", type=int, default=2048)
    s.add_argument("--strata-col", default=None)
    s.set_defaults(fn=cmd_corpus_pack)

    s = sub.add_parser(
        "corpus-import", help="JSONL/CSV/parquet -> normalized docs parquet"
    )
    s.add_argument("input")
    s.add_argument("output")
    s.add_argument("--format", choices=("jsonl", "csv", "parquet"),
                   default="jsonl")
    s.add_argument("--text-col", default="text")
    s.add_argument("--id-col", default=None)
    s.add_argument("--on-bad-lines", choices=("fail", "drop"), default="fail")
    s.set_defaults(fn=cmd_corpus_import)

    s = sub.add_parser(
        "corpus-export", help="docs parquet -> sharded JSONL or ZipNum"
    )
    s.add_argument("input")
    s.add_argument("output")
    s.add_argument("--codec", choices=("jsonl", "zipnum"), default="jsonl",
                   help="zipnum needs split/shard/pos columns "
                        "(a published corpus version dir)")
    s.add_argument("--compression", default="gzip",
                   help="json codec, or 'none' (jsonl only)")
    s.add_argument("--shards", type=int, default=None)
    s.add_argument("--lines-per-block", type=int, default=3000)
    s.set_defaults(fn=cmd_corpus_export)

    s = sub.add_parser(
        "corpus-buckets",
        help="CCNet quality buckets: LM-score docs, cut head/middle/tail",
    )
    s.add_argument("input")
    s.add_argument("output")
    s.add_argument("--unit", choices=("char", "word", "backoff"),
                   default="word")
    s.add_argument("--reference", default=None,
                   help="clean reference corpus parquet (default: input)")
    s.add_argument("--vocab", type=int, default=50_000)
    s.add_argument("--alpha", type=float, default=0.4,
                   help="stupid-backoff penalty (backoff unit only)")
    s.add_argument("--cal-docs", type=int, default=10_000,
                   help="calibration slice bound (doc_id < N); 0 = all")
    s.set_defaults(fn=cmd_corpus_buckets)

    s = sub.add_parser(
        "corpus-classify",
        help="NB linear quality filter: train pos-vs-neg, score docs",
    )
    s.add_argument("input")
    s.add_argument("output")
    s.add_argument("--pos", required=True,
                   help="high-quality reference corpus parquet")
    s.add_argument("--neg", default=None,
                   help="negative reference parquet (default: input)")
    s.add_argument("--vocab", type=int, default=50_000)
    s.add_argument("--threshold", type=float, default=0.0,
                   help="keep-histogram cut on mean per-token llr")
    s.set_defaults(fn=cmd_corpus_classify)

    s = sub.add_parser(
        "corpus-langid",
        help="language ID: stopword heuristic or trained char-ngram NB",
    )
    s.add_argument("input")
    s.add_argument("output")
    s.add_argument("--model", default=None,
                   help="trained model parquet (lang, ngram, logp)")
    s.add_argument("--train", default=None,
                   help="labeled corpus parquet to train on")
    # trained-path flags default to None so the handler can tell
    # "explicitly passed" from "unset" and refuse silently ignoring
    # them on the heuristic path (defaults resolve in the handler:
    # label-col 'lang', n 3, vocab 10000, max-chars 1000)
    s.add_argument("--label-col", default=None,
                   help="label column of --train (default lang)")
    s.add_argument("--model-out", default=None,
                   help="also write the (trained) model parquet here")
    s.add_argument("--n", type=int, default=None,
                   help="char n-gram order (default 3)")
    s.add_argument("--vocab", type=int, default=None,
                   help="per-language vocab cap (default 10000)")
    s.add_argument("--max-chars", type=int, default=None,
                   help="score the first N chars of each doc "
                        "(default 1000)")
    s.set_defaults(fn=cmd_corpus_langid)

    s = sub.add_parser(
        "corpus-prune",
        help="D4 prototypicality pruning over embeddings (k-means cells)",
    )
    s.add_argument("input")
    s.add_argument("output")
    s.add_argument("--centroids", default=None,
                   help="centroid parquet (centroid_id, centroid); "
                        "default: train k-means on the input")
    s.add_argument("--k", type=int, default=64)
    s.add_argument("--keep-frac", type=float, default=0.8)
    s.add_argument("--drop", choices=("prototypes", "outliers"),
                   default="prototypes")
    s.add_argument("--id-col", default="vec_id")
    s.add_argument("--vec-col", default="embedding")
    s.set_defaults(fn=cmd_corpus_prune)

    s = sub.add_parser(
        "corpus-stats",
        help="per-source corpus report: docs/tokens/chars/dup fraction",
    )
    s.add_argument("input")
    s.add_argument("--by", default="source")
    s.add_argument("--all", action="store_true",
                   help="one corpus-wide row instead of per-source")
    s.add_argument("--text-col", default="text")
    s.add_argument("--approx", action="store_true",
                   help="HLL unique-text count (the no-distinct-shuffle "
                        "scale path)")
    s.add_argument("--output", default=None)
    s.set_defaults(fn=cmd_corpus_stats)

    s = sub.add_parser(
        "corpus-verify",
        help="fsck a published corpus version against its manifest",
    )
    s.add_argument("root")
    s.add_argument("--version", type=int, default=None)
    s.add_argument("--id-col", default="auto",
                   help="id-uniqueness column (default: the manifest's "
                        "recorded id_col); pass '' to skip")
    s.set_defaults(fn=cmd_corpus_verify)

    s = sub.add_parser(
        "corpus-diff",
        help="diff two published corpus versions (manifest + placement)",
    )
    s.add_argument("root")
    s.add_argument("--va", type=int, default=None,
                   help="version A (default: the published one before B)")
    s.add_argument("--vb", type=int, default=None,
                   help="version B (default: latest published)")
    s.add_argument("--id-col", default=None,
                   help="document id column (default: the manifests' "
                        "recorded id_col)")
    s.add_argument("--detail-out", default=None,
                   help="write the per-document diff parquet here")
    s.set_defaults(fn=cmd_corpus_diff)

    s = sub.add_parser(
        "corpus-leakage",
        help="eval-split contamination audit (exact, --near for near-dup)",
    )
    s.add_argument("input")
    s.add_argument("--fractions", required=True,
                   help="ordered name=frac list, e.g. train=0.8,val=0.2")
    s.add_argument("--text-col", default="text")
    s.add_argument("--near", action="store_true",
                   help="also audit MinHash near-dup cross-split pairs")
    s.add_argument("--threshold", type=float, default=0.5)
    s.add_argument("--output", default=None,
                   help="write findings parquet under OUTPUT/exact[,near]")
    s.set_defaults(fn=cmd_corpus_leakage)

    s = sub.add_parser(
        "corpus-split", help="deterministic train/val/test split"
    )
    s.add_argument("input")
    s.add_argument("output")
    s.add_argument("--fractions", default="train=0.98,val=0.01,test=0.01")
    s.set_defaults(fn=cmd_corpus_split)

    s = sub.add_parser(
        "corpus-assemble",
        help="split -> shuffle -> pack, published as atomic version",
    )
    s.add_argument("input")
    s.add_argument("root")
    s.add_argument("--fractions", default="train=0.98,val=0.01,test=0.01")
    s.add_argument("--shards", type=int, required=True)
    s.add_argument("--seed", type=int, default=0)
    s.add_argument("--epoch", type=int, default=0)
    s.add_argument("--epochs", type=int, default=1,
                   help="publish K versions, epochs --epoch..--epoch+K-1")
    s.add_argument("--budget", type=int, default=None)
    s.add_argument("--token-col", default="n_tokens")
    s.add_argument("--id-col", default="doc_id")
    s.add_argument("--keep", type=int, default=None)
    s.add_argument("--curriculum-col", default=None,
                   help="phase column: publish an annealing version "
                        "(phase-major shard order within every split)")
    s.set_defaults(fn=cmd_corpus_assemble)

    s = sub.add_parser(
        "corpus-shuffle", help="seeded deterministic training-order shuffle"
    )
    s.add_argument("input")
    s.add_argument("output")
    s.add_argument("--shards", type=int, required=True)
    s.add_argument("--seed", type=int, default=0)
    s.add_argument("--epoch", type=int, default=0)
    s.add_argument("--id-col", default="doc_id")
    s.add_argument("--curriculum-col", default=None,
                   help="phase column for phase-major (annealing) order; "
                        "seeded shuffle stays within each phase")
    s.set_defaults(fn=cmd_corpus_shuffle)

    s = sub.add_parser(
        "corpus-tokenize", help="BPE-tokenize docs (counts or token arrays)"
    )
    s.add_argument("input")
    s.add_argument("output")
    s.add_argument("--merges", help="TSV merge table (a<TAB>b per line)")
    s.add_argument("--train", type=int,
                   help="train: N merges (bpe) / vocab size (unigram)")
    s.add_argument("--merges-out", help="write the trained merge table here")
    s.add_argument("--emit", choices=("counts", "tokens"), default="counts")
    s.add_argument("--tokenizer", choices=("bpe", "unigram"), default="bpe")
    s.add_argument("--model", help="unigram model parquet (piece, logp)")
    s.add_argument("--model-out", help="write the trained unigram model here")
    s.set_defaults(fn=cmd_corpus_tokenize)

    s = sub.add_parser(
        "corpus-chunk", help="overlapping token-window chunks per doc"
    )
    s.add_argument("input")
    s.add_argument("output")
    s.add_argument("--chunk-tokens", type=int, default=512)
    s.add_argument("--stride", type=int, default=None)
    s.set_defaults(fn=cmd_corpus_chunk)

    s = sub.add_parser("cdx-convert", help="CDX text -> SURT-canonicalized CDX")
    s.add_argument("input", nargs="+")
    s.set_defaults(fn=cmd_cdx_convert)

    s = sub.add_parser("cluster-build", help="CDX text -> sorted parquet cluster")
    s.add_argument("input", nargs="+")
    s.add_argument("output")
    s.add_argument("--num-ranges", type=int, default=10)
    s.add_argument("--split-file")
    s.set_defaults(fn=cmd_cluster_build)

    s = sub.add_parser("zipnum-writer", help="text -> ZipNum cluster")
    s.add_argument("input")
    s.add_argument("output")
    s.add_argument("--count", type=int, default=3000)
    s.add_argument("--num-shards", type=int, default=None)
    s.set_defaults(fn=cmd_zipnum_writer)

    s = sub.add_parser("merge-clusters", help="merge N parquet clusters")
    s.add_argument("input", nargs="+")
    s.add_argument("output")
    s.add_argument("--daily-limit", type=int, default=None)
    s.add_argument("--num-ranges", type=int, default=None)
    s.set_defaults(fn=cmd_merge_clusters)

    s = sub.add_parser("cluster-merge", help="re-shard one cluster")
    s.add_argument("input")
    s.add_argument("output")
    s.add_argument("--num-ranges", type=int, default=10)
    s.set_defaults(fn=cmd_cluster_merge)

    s = sub.add_parser("cluster-range", help="bounded [start,end) dump")
    s.add_argument("--skip-bad", action="store_true",
                   help="salvage + count corrupt gzip members instead of failing")
    s.add_argument("start")
    s.add_argument("end")
    s.add_argument("cluster", nargs="+")
    s.set_defaults(fn=cmd_cluster_range)

    s = sub.add_parser("summary-generator", help="rebuild ALL.summary")
    s.add_argument("cluster")
    s.set_defaults(fn=cmd_summary_generator)

    s = sub.add_parser("manifest-aggregator", help="write sorted manifest.txt")
    s.add_argument("cluster")
    s.add_argument("basenames", help="file of source basenames, one per line")
    s.set_defaults(fn=cmd_manifest_aggregator)

    s = sub.add_parser(
        "corpus-from-warc",
        help="WARC files -> documents-table parquet (text, lang, host)",
    )
    s.add_argument("input", nargs="+")
    s.add_argument("output")
    s.set_defaults(fn=cmd_corpus_from_warc)

    s = sub.add_parser("CDXGenerator", help="WARC files -> CDX parquet")
    s.add_argument("input", nargs="+")
    s.add_argument("output")
    s.set_defaults(fn=cmd_cdx_generator)

    s = sub.add_parser("WATGenerator", help="WARC files -> WAT parquet")
    s.add_argument("input", nargs="+")
    s.add_argument("output")
    s.set_defaults(fn=cmd_wat_generator)

    s = sub.add_parser(
        "WARCMetadataRecordGenerator", help="WARC metadata records -> parquet"
    )
    s.add_argument("input", nargs="+")
    s.add_argument("output")
    s.set_defaults(fn=cmd_warc_metadata)

    s = sub.add_parser(
        "ArchiveFileExtractor", help="repackage members into new archives"
    )
    s.add_argument("spec", help="CSV with header: prefix,path,offset[,seq]")
    s.add_argument("output")
    s.add_argument("--format", choices=("warc", "arc"), default="warc")
    s.set_defaults(fn=cmd_archive_file_extractor)

    s = sub.add_parser("httpimport", help="parallel idempotent URL import")
    s.add_argument("urls", help="file of URLs, one per line")
    s.add_argument("target")
    s.add_argument("--hard", action="store_true", help="fail on first error")
    s.set_defaults(fn=cmd_httpimport)

    s = sub.add_parser("hdfs-lsr", help="recursive file listing")
    s.add_argument("path")
    s.add_argument("--ext", action="append", help="extension filter (repeatable)")
    s.set_defaults(fn=cmd_hdfs_lsr)

    s = sub.add_parser("range-dumper", help="stdin PATH[\\tOFF\\tLEN] -> lines")
    s.set_defaults(fn=cmd_range_dumper)

    s = sub.add_parser("hdfs-fseeko", help="dump a byte range of a file")
    s.add_argument("path")
    s.add_argument("offset", type=int)
    s.add_argument("length", type=int)
    s.set_defaults(fn=cmd_hdfs_fseeko)

    s = sub.add_parser("hdfs-mv", help="atomic rename")
    s.add_argument("src")
    s.add_argument("dst")
    s.set_defaults(fn=cmd_hdfs_mv)

    s = sub.add_parser("hdfs-touch", help="create empty file")
    s.add_argument("path")
    s.set_defaults(fn=cmd_hdfs_touch)

    s = sub.add_parser("hdfs-sync", help="stdin 'SRC TGT' pairs, copy-if-absent")
    s.set_defaults(fn=cmd_hdfs_sync)

    s = sub.add_parser("file-search", help="binary search a sorted text file")
    s.add_argument("file")
    s.add_argument("key", help="print all lines starting with this prefix")
    s.set_defaults(fn=cmd_file_search)

    args = p.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main()
