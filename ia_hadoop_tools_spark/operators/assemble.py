"""Atomic versioned training-corpus assembly: split -> shuffle -> pack.

The last mile of a training-data pipeline composes three verbs this
engine already ships — :func:`~ia_hadoop_tools_spark.operators.sampling.
split_corpus` (deterministic growth-stable train/val/test),
:func:`~.sampling.corpus_shuffle` (seeded training-order shuffle into
shards), :func:`~.sampling.pack_sequences` (token-budget bins) — and
publishes the result as ONE atomic artifact under the versioned
``_PUBLISHED`` commit protocol (streaming/versioned.py: marker written
last, readers resolve the highest marked version, a crashed save is an
unmarked dir the next publish skips past).  A "corpus version" is then
a real thing: re-running with the same inputs and parameters replays it
content-identically, extending the corpus publishes a NEW version while
the old one stays readable, and a training job pins a version directory
that can never change underneath it.

Layout per version::

    root/vNNN/MANIFEST.json                  # params + per-split counts
    root/vNNN/split=train/shard=0/part-*.parquet   # rows sorted by pos
    root/vNNN/split=val/shard=.../...
    root/vNNN/_PUBLISHED                     # commit marker, written last

Determinism chain: split assignment is content-addressed (salted-hash
ranges), shard + intra-shard order are content-addressed
(corpus_shuffle's fixed-width hash-space slice), and packing is a
per-shard prefix sum in ``pos`` order — so every stage honors "same
inputs + params => same rows in the same order at any parallelism".

Scale shape: ONE pass for the whole version — split CASE + shard
assignment are codegen projections, one hash exchange on
(split, shard), one window per (split, shard) for pos (+ one for
packing), one partitioned write with each (split, shard) leaf routed
wholly to one task (one sorted file per leaf); per-split manifest
counts ride the write as Observation aggregates.  The driver holds
only those counts.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ia_hadoop_tools_spark.sources import fsio
from ia_hadoop_tools_spark.streaming import versioned


def assemble_corpus(
    df: DataFrame,
    root: str,
    splits: list[tuple[str, float]],
    n_shards: int,
    seed: int = 0,
    epoch: int = 0,
    budget: int | None = None,
    token_col: str = "n_tokens",
    id_col: str = "doc_id",
    keep_versions: int | None = None,
    phase_col: str | None = None,
) -> str:
    """Assemble one corpus version; returns the committed version dir.

    ``phase_col`` (optional) publishes an ANNEALING/curriculum version:
    within every split the shard sequence is phase-major
    (:func:`~ia_hadoop_tools_spark.operators.sampling.curriculum_shuffle`
    with the split as the stratum — exact-count Hamilton shard ranges
    per split, seeded shuffle within each phase), so a shard-ordered
    reader replays the curriculum. Same determinism contract; the
    manifest records the column.

    ``budget`` (optional) additionally packs each shard's token stream
    into fixed-budget training bins (``seq_start``/``bin``/
    ``bin_offset`` columns) — requires ``token_col`` on ``df``.
    ``keep_versions`` prunes to the newest N published versions after a
    successful commit (the retention contract of
    ``versioned.prune_versions``).

    SINGLE WRITER per root: the next-version choice is list-then-write,
    so two concurrent assembles could pick the same number.  The second
    writer fails fast here (the chosen version dir already exists)
    instead of silently overwriting the first's uncommitted output —
    serialize publishes per root externally.

    Multi-epoch training loops call this per epoch with the same root,
    inputs, seed, and a bumped ``epoch``: the split assignment is
    epoch-independent (content-addressed on ``id_col``) while shard and
    order decorrelate per epoch, each epoch's version stays
    independently replayable, and ``keep_versions`` can prune mid-loop
    without touching the newest versions (pinned by
    tests/test_assemble.py's epoch-loop contract test).
    """
    from ia_hadoop_tools_spark.operators.sampling import (
        corpus_shuffle,
        pack_sequences,
        split_corpus,
    )

    if budget is not None and token_col not in df.columns:
        raise ValueError(
            f"budget packing needs token column {token_col!r}; "
            f"df has {df.columns}"
        )
    if keep_versions is not None and keep_versions < 1:
        # fail BEFORE the (potentially hours-long) write, not after the
        # publish succeeded — a post-commit raise reads as a failed job
        # and a retry would publish a duplicate version
        raise ValueError(f"keep_versions must be >= 1, got {keep_versions}")
    version = versioned.next_version(root)
    vdir = versioned.version_dir(root, version)
    if fsio.exists(vdir):
        # a concurrent assemble picked the same number between the
        # listing and now — overwriting would tear ITS uncommitted write
        raise RuntimeError(
            f"{vdir} already exists: concurrent assemble_corpus on the "
            "same root (single-writer protocol) — retry after it commits"
        )
    # ONE pass for every split: split assignment is a codegen CASE,
    # corpus_shuffle's strata mode scopes (shard, pos) per split in a
    # single window (bit-identical to shuffling each split slice
    # separately — the hash key is split-independent), packing windows
    # on (split, shard) in pos order, and partitionBy(split, shard)
    # routes the whole version in one write.  A per-split loop would
    # scan + shuffle the corpus once PER split.
    # split fractions may deliberately sum to < 1 (sampled corpora) —
    # rows outside every range are EXCLUDED from the version, and that
    # exclusion must be visible: the unassigned count rides the same
    # action as the write and lands in the manifest
    from pyspark.sql import Observation

    drop_obs = Observation()
    assigned = (
        split_corpus(df, splits, id_col=id_col)
        .observe(
            drop_obs,
            F.count(F.when(F.col("split").isNull(), True)).alias("n_null"),
        )
        .filter(F.col("split").isNotNull())
    )
    if phase_col is not None:
        from ia_hadoop_tools_spark.operators.sampling import (
            curriculum_shuffle,
        )

        shuf = curriculum_shuffle(
            assigned, n_shards, phase_col, seed=seed, epoch=epoch,
            id_col=id_col, strata_col="split",
        )
    else:
        shuf = corpus_shuffle(
            assigned, n_shards, seed=seed, epoch=epoch, id_col=id_col,
            strata_col="split",
        )
    if budget is not None:
        # pack in SHUFFLE order: per-(split, shard) prefix sum over pos,
        # so bins follow the training order, not the id order
        shuf = pack_sequences(
            shuf,
            budget,
            token_col=token_col,
            strata_col=("split", "shard"),
            id_col="pos",
        )
        # pack-waste observability: in the concat-and-chunk layout every
        # bin is exactly full EXCEPT each shard's tail bin, so a shard's
        # wasted tokens = budget - fill(tail bin), read off the LAST row
        # (lead(pos) null) whose stream end is seq_start + tokens.  A
        # shard whose stream is EMPTY (all zero-token rows) occupies no
        # bins and wastes nothing — without the stream-end > 0 guard the
        # signed %-arithmetic would report one fully-wasted bin.  The
        # marker window shares the pack window's exact partition/order
        # spec, so Catalyst folds it into the same window stage — no
        # extra exchange; the per-split sums ride the write Observation.
        from pyspark.sql import Window

        from ia_hadoop_tools_spark.operators.sampling import (
            _check_output_columns,
        )

        _check_output_columns(df, ["__waste"], "assemble_corpus")
        w_tail = Window.partitionBy("split", "shard").orderBy("pos")
        stream_end = F.col("seq_start") + F.col(token_col)
        fill = (stream_end - 1) % budget + 1
        shuf = shuf.withColumn(
            "__waste",
            F.when(
                F.lead("pos").over(w_tail).isNull() & (stream_end > 0),
                F.lit(budget) - fill,
            ).otherwise(F.lit(0)),
        )
    # manifest counts ride the write itself via an Observation (one
    # conditional count per split — splits are a bounded list); a
    # read-back count would re-scan the freshly written version (the
    # cmd_corpus_split rationale, and a full re-read at 100 TB)
    obs = Observation()
    count_aggs = [
        F.count(F.when(F.col("split") == name, True)).alias(f"n_{i}")
        for i, (name, _f) in enumerate(splits)
    ]
    if budget is not None:
        count_aggs += [
            agg
            for i, (name, _f) in enumerate(splits)
            for agg in (
                F.sum(
                    F.when(F.col("split") == name, F.col("__waste")).otherwise(0)
                ).alias(f"w_{i}"),
                F.sum(
                    F.when(F.col("split") == name, F.col(token_col)).otherwise(0)
                ).alias(f"t_{i}"),
            )
        ]
    out = shuf.observe(obs, *count_aggs)
    if budget is not None:
        out = out.drop("__waste")
    (
        out.repartition(n_shards * len(splits), "split", "shard")
        .sortWithinPartitions("split", "shard", "pos")
        .write.mode("overwrite")
        .partitionBy("split", "shard")
        .parquet(vdir)
    )
    got = obs.get
    counts: dict[str, int] = {
        name: int(got[f"n_{i}"]) for i, (name, _f) in enumerate(splits)
    }
    pack_waste = None
    if budget is not None:
        pack_waste = {}
        for i, (name, _f) in enumerate(splits):
            wasted = int(got[f"w_{i}"] or 0)
            toks = int(got[f"t_{i}"] or 0)
            cap = wasted + toks  # bins * budget
            pack_waste[name] = {
                "wasted_tokens": wasted,
                "capacity_tokens": cap,
                "fraction": round(wasted / cap, 6) if cap else 0.0,
            }
    unassigned = int(drop_obs.get["n_null"])
    manifest = {
        "version": version,
        "splits": [[n, f] for n, f in splits],
        "n_shards": n_shards,
        "seed": seed,
        "epoch": epoch,
        "budget": budget,
        "token_col": token_col if budget is not None else None,
        "id_col": id_col,
        "phase_col": phase_col,
        "counts": counts,
        "unassigned": unassigned,
        # wasted-token fraction of the packed stream per split (tail-bin
        # padding) — the pack-efficiency number a training team watches
        "pack_waste": pack_waste,
    }
    with fsio.open_write_text(fsio.join(vdir, "MANIFEST.json")) as fh:
        fh.write(json.dumps(manifest, sort_keys=True) + "\n")
    versioned.commit_version(root, version)
    if keep_versions is not None:
        versioned.prune_versions(root, keep_versions)
    return vdir


def _resolve_published_dir(root: str, version: int | None) -> str:
    """Latest (or explicit) PUBLISHED version dir; FileNotFoundError
    otherwise — uncommitted (torn) saves are never resolvable."""
    if version is None:
        vdir = versioned.latest_published_dir(root)
        if vdir is None:
            raise FileNotFoundError(f"no published corpus version under {root}")
        return vdir
    if version not in versioned.existing_versions(root, published_only=True):
        raise FileNotFoundError(f"version {version} not published under {root}")
    return versioned.version_dir(root, version)


def read_corpus_version(
    spark: SparkSession,
    root: str,
    split: str,
    version: int | None = None,
) -> DataFrame:
    """Read one split of a published corpus version (latest by default).
    Raises if no published version exists — a half-written (uncommitted)
    dir is never readable through this path."""
    vdir = _resolve_published_dir(root, version)
    return spark.read.parquet(fsio.join(vdir, f"split={split}"))


#: zero-pad widths for the ZipNum interchange key "{split}:{shard}:{pos}"
#: — numeric components sort correctly as text at any corpus size
_ZN_SHARD_W = 5
_ZN_POS_W = 20
_ZN_KEY_RE = rf"^(.*):(\d{{{_ZN_SHARD_W}}}):(\d{{{_ZN_POS_W}}})$"


def export_corpus_zipnum(
    df: DataFrame,
    out_dir: str,
    lines_per_block: int = 3000,
    num_shards: int | None = None,
) -> None:
    """Export a corpus frame carrying (``split``, ``shard``, ``pos``) as
    a ZipNum cluster — the reference's own interchange format
    (mapreduce/ZipNumOutputFormat.java:32, cdx/notes.txt:1-36) — so a
    published version round-trips through tooling that speaks blocked
    gzip + idx sidecars.  Line format: one space-delimited record per
    row, key ``{split}:{shard:05d}:{pos:020d}`` then a JSON object of
    every other column.  Keys sort text-wise in training order, so the
    cluster's sorted/indexed range scans work: ``zipnum_range(spark,
    out, 'train', 'train~')`` streams one split without reading the
    rest (the CDXCluster.getRangeBlockIterator semantics).
    """
    from ia_hadoop_tools_spark.sources.zipnum import write_zipnum

    for c in ("split", "shard", "pos"):
        if c not in df.columns:
            raise ValueError(
                f"export_corpus_zipnum needs column {c!r}; df has {df.columns}"
            )
    payload_cols = [c for c in df.columns if c not in ("split", "shard", "pos")]
    # a shard/pos outside the fixed key width would silently break the
    # text sort order AND the import regexp (rows would come back with
    # null components) — fail the job loudly instead.  pos only needs
    # the >= 0 check (a long cannot reach 1e20).
    def _fixed_width(col_name: str, width: int):
        # the bound literal goes through expr(): 1e20 exceeds a JVM long,
        # so F.lit(10**20) cannot cross py4j
        ok = (F.col(col_name) >= 0) & (
            F.col(col_name)
            < F.expr(f"CAST({10**width} AS DECIMAL(38,0))")
        )
        return F.when(
            ok, F.format_string(f"%0{width}d", col_name)
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"export_corpus_zipnum: {col_name} out of "
                        f"[0, 1e{width}) key width: "
                    ),
                    F.col(col_name).cast("string"),
                )
            )
        )

    line = F.concat_ws(
        " ",
        F.concat_ws(
            ":",
            F.col("split"),
            _fixed_width("shard", _ZN_SHARD_W),
            _fixed_width("pos", _ZN_POS_W),
        ),
        F.to_json(F.struct(*payload_cols)),
    )
    write_zipnum(
        df.select(line.alias("value")),
        out_dir,
        lines_per_block=lines_per_block,
        num_shards=num_shards,
    )


def export_version_zipnum(
    spark: SparkSession,
    root: str,
    out_dir: str,
    version: int | None = None,
    lines_per_block: int = 3000,
    num_shards: int | None = None,
) -> str:
    """Export one PUBLISHED corpus version (latest by default) as a
    ZipNum cluster; returns the exported version dir.  Refuses torn
    saves like every other version reader."""
    vdir = _resolve_published_dir(root, version)
    export_corpus_zipnum(
        read_version_frame(spark, vdir),
        out_dir,
        lines_per_block=lines_per_block,
        num_shards=num_shards,
    )
    return vdir


def read_version_frame(spark: SparkSession, vdir: str) -> DataFrame:
    """All splits of one version DIR as a frame with split/shard kept as
    partition columns: glob only the ``split=*`` dirs (the version dir
    also holds MANIFEST.json + _PUBLISHED, which a bare parquet read
    trips over) with ``basePath`` so the glob level stays a column."""
    return (
        spark.read.option("basePath", vdir)
        .parquet(fsio.join(vdir, "split=*"))
    )


def import_corpus_zipnum(
    spark: SparkSession,
    in_dir: str,
    payload_schema,
) -> DataFrame:
    """Read an :func:`export_corpus_zipnum` cluster back into a corpus
    frame (``split``, ``shard``, ``pos``, payload columns).

    ``payload_schema`` is the payload columns' StructType or DDL string
    (take it from the source version's parquet or your own contract —
    inferring types from JSON samples would silently widen/narrow on
    sparse columns).  The key regexp keeps split names containing ':'
    intact (greedy prefix; only the two fixed-width numeric tails are
    peeled off).
    """
    from ia_hadoop_tools_spark.sources.zipnum import read_zipnum

    lines = read_zipnum(spark, in_dir)
    key = F.substring_index("value", " ", 1)
    body = F.expr("substring(value, instr(value, ' ') + 1)")
    parsed = F.from_json(body, payload_schema).alias("__p")
    return (
        lines.select(
            F.regexp_extract(key, _ZN_KEY_RE, 1).alias("split"),
            F.regexp_extract(key, _ZN_KEY_RE, 2).cast("int").alias("shard"),
            F.regexp_extract(key, _ZN_KEY_RE, 3).cast("long").alias("pos"),
            parsed,
        )
        .select("split", "shard", "pos", "__p.*")
    )


def read_manifest(root: str, version: int | None = None) -> dict:
    """The MANIFEST.json of a published version (latest by default).
    Refuses unpublished versions like :func:`read_corpus_version` — a
    crashed save's manifest describes data the commit protocol says is
    unreadable, so handing it out would let callers act on a torn
    version's counts."""
    vdir = _resolve_published_dir(root, version)
    with fsio.open_read_text(fsio.join(vdir, "MANIFEST.json")) as fh:
        return json.load(fh)


def verify_corpus_version(
    spark: SparkSession,
    root: str,
    version: int | None = None,
    id_col: str | None = "auto",
) -> dict:
    """fsck for a published corpus version: re-derive the invariants a
    training job depends on and compare them to the MANIFEST — the
    operational check to run before pointing a multi-week training run
    at ``root/vNNN``.

    The version directory is resolved ONCE and its own MANIFEST.json is
    read from inside it (a concurrent publish between two independent
    "latest" resolutions could otherwise pair one version's data with
    another's manifest); the manifest's recorded version number must
    match the directory.

    Checks (ONE scan of the version — a per-(split, shard) groupBy
    whose output is bounded by splits x shards, everything else derived
    driver-side from those rows — plus a second scan only when id
    uniqueness is requested):

    - per-split row counts equal the manifest's (the counts were
      observed ON the original write; equality proves the on-disk
      leaves are the ones the manifest describes — no lost/duplicated
      leaf);
    - every ``split`` value is a manifest split and every ``shard`` is
      in ``[0, n_shards)`` — NULLs (a stray
      ``__HIVE_DEFAULT_PARTITION__`` dir, a schema-drifted leaf) count
      as alien, not as silently-skipped;
    - within every (split, shard): ``pos`` is dense 0..n-1 (max ==
      count-1 AND distinct == count, with NULL ``pos`` failing the
      check — a replay/partial-overwrite that duplicated or dropped a
      row breaks one of the two);
    - id uniqueness across the whole version (a doubly-assigned
      document means a torn/overlapping write): ``id_col='auto'``
      (default) checks the manifest's own recorded id column, an
      explicit name overrides, ``None`` skips.  An 'auto' id column
      missing from the frame is itself a failed check.

    Returns a report dict with ``ok`` plus per-check details; never
    raises on a FAILED check (only on an unreadable version) so the CLI
    can print the full diagnosis.
    """
    vdir = _resolve_published_dir(root, version)
    with fsio.open_read_text(fsio.join(vdir, "MANIFEST.json")) as fh:
        manifest = json.loads(fh.read())
    dir_version = int(vdir.rstrip("/").rsplit("v", 1)[1])
    frame = read_version_frame(spark, vdir)
    split_names = [n for n, _f in manifest["splits"]]
    n_shards = int(manifest["n_shards"])

    pos_ok = F.coalesce(
        (F.max("pos") == F.count("*") - 1)
        & (F.count_distinct("pos") == F.count("*")),
        F.lit(False),
    )
    rows = (
        frame.groupBy("split", "shard")
        .agg(F.count("*").alias("__n"), pos_ok.alias("__pos_ok"))
        .collect()
    )
    # a split the manifest records with 0 rows has no group to report
    counts: dict = dict.fromkeys(split_names, 0)
    alien_splits, alien_shards, bad_shards = 0, 0, []
    total = 0
    for r in rows:
        sp, sh, n = r["split"], r["shard"], int(r["__n"])
        total += n
        if sp is None or sp not in split_names:
            alien_splits += n
        else:
            counts[sp] += n
        if sh is None or not (0 <= sh < n_shards):
            alien_shards += n
        if not r["__pos_ok"]:
            bad_shards.append((sp, None if sh is None else int(sh)))
    manifest_counts = {k: int(v) for k, v in manifest["counts"].items()}
    checks = {
        "manifest_version_matches_dir": int(manifest["version"]) == dir_version,
        "counts_match": counts == manifest_counts,
        "no_alien_splits": alien_splits == 0,
        "shards_in_range": alien_shards == 0,
        "pos_dense_per_shard": not bad_shards,
    }
    if id_col == "auto":
        id_col = manifest.get("id_col")
    if id_col is not None:
        if id_col not in frame.columns:
            checks["ids_unique"] = False
        else:
            got = frame.agg(
                F.count_distinct(F.col(id_col)).alias("__ids"),
                F.count("*").alias("__t"),
            ).first()
            checks["ids_unique"] = int(got["__ids"]) == int(got["__t"])
    return {
        "ok": all(checks.values()),
        "version_dir": vdir,
        "checks": checks,
        "counts": counts,
        "manifest_counts": manifest_counts,
        "bad_shards": sorted(bad_shards, key=lambda t: (str(t[0]), str(t[1]))),
        "rows": total,
    }


def _resolve_diff_versions(
    root: str, v_a: int | None, v_b: int | None
) -> tuple[int, int]:
    """Default pair for a diff: B = latest published, A = the published
    version before it — "what changed since the last training run"."""
    if v_a is not None and v_b is not None:
        return v_a, v_b
    published = versioned.existing_versions(root, published_only=True)
    if v_b is None:
        if not published:
            raise FileNotFoundError(f"no published corpus version under {root}")
        v_b = published[-1]
    if v_a is None:
        older = [v for v in published if v < v_b]
        if not older:
            raise FileNotFoundError(
                f"no published version before v{v_b:03d} under {root} — "
                "pass v_a explicitly"
            )
        v_a = older[-1]
    return v_a, v_b


def corpus_diff(
    spark: SparkSession,
    root: str,
    v_a: int | None = None,
    v_b: int | None = None,
    id_col: str | None = None,
) -> DataFrame:
    """Per-document placement diff between two PUBLISHED corpus versions
    — the "what changed since the last training run?" question a
    training team asks before re-training (round-8 verdict task #6).

    One row per document whose placement differs between version A and
    version B (defaults: B = latest published, A = the one before it):
    (``<id>``, ``split_a``, ``shard_a``, ``pos_a``, ``split_b``,
    ``shard_b``, ``pos_b``, ``status``), status one of

    - ``added`` / ``removed`` — in only one version (content change);
    - ``moved_split`` — present in both, split changed (a split-
      assignment change: different split fractions or id hashing);
    - ``moved_shard`` — same split, different shard;
    - ``reordered`` — same (split, shard), different ``pos``.

    Unchanged documents are filtered out, so an epoch-only re-shuffle
    diffs as EMPTY on content (no added/removed — split assignment is
    epoch-independent) and NONEMPTY on order (moved_shard/reordered).
    Aggregate with :func:`corpus_diff_summary`; manifest-level deltas
    (counts, pack_waste, parameter changes) come from
    :func:`corpus_manifest_diff` without touching data files.

    ``id_col`` defaults to the versions' recorded id column (must agree
    between the two manifests).  Scale shape: each side is one scan
    projected to the skinny (id, split, shard, pos) tuple — payload
    columns are pruned at the parquet reader — into ONE full-outer
    id-keyed exchange; the status CASE is a codegen projection on the
    join output.  Nothing data-proportional reaches the driver.
    """
    v_a, v_b = _resolve_diff_versions(root, v_a, v_b)
    ma = read_manifest(root, v_a)
    mb = read_manifest(root, v_b)
    if id_col is None:
        ids = {ma.get("id_col"), mb.get("id_col")}
        if ids == {None}:
            raise ValueError(
                "corpus_diff: neither version records an id column — "
                "pass id_col explicitly"
            )
        if len(ids) != 1:
            raise ValueError(
                f"corpus_diff: versions record different id columns "
                f"{sorted(str(i) for i in ids)} — pass id_col explicitly"
            )
        id_col = ids.pop()

    def side(version: int, tag: str) -> DataFrame:
        frame = read_version_frame(spark, versioned.version_dir(root, version))
        if id_col not in frame.columns:
            raise ValueError(
                f"corpus_diff: id column {id_col!r} missing from "
                f"v{version:03d} (has {frame.columns})"
            )
        return frame.select(
            F.col(id_col),
            F.col("split").alias(f"split_{tag}"),
            F.col("shard").alias(f"shard_{tag}"),
            F.col("pos").alias(f"pos_{tag}"),
        )

    joined = side(v_a, "a").join(side(v_b, "b"), id_col, "full_outer")
    status = (
        F.when(F.col("split_a").isNull(), F.lit("added"))
        .when(F.col("split_b").isNull(), F.lit("removed"))
        .when(F.col("split_a") != F.col("split_b"), F.lit("moved_split"))
        .when(F.col("shard_a") != F.col("shard_b"), F.lit("moved_shard"))
        .when(F.col("pos_a") != F.col("pos_b"), F.lit("reordered"))
    )
    return (
        joined.withColumn("status", status)
        .filter(F.col("status").isNotNull())
        .select(
            id_col,
            "split_a", "shard_a", "pos_a",
            "split_b", "shard_b", "pos_b",
            "status",
        )
    )


def corpus_diff_summary(diff: DataFrame) -> DataFrame:
    """Roll a :func:`corpus_diff` detail frame up to (``split``,
    ``shard``, ``status``, ``n_docs``) — placement keyed by where the
    document lives in B (where it WAS for removals).  Bounded output:
    splits x shards x 5 statuses."""
    return (
        diff.groupBy(
            F.coalesce("split_b", "split_a").alias("split"),
            F.coalesce("shard_b", "shard_a").alias("shard"),
            "status",
        )
        .agg(F.count("*").alias("n_docs"))
    )


#: manifest parameters compared by corpus_manifest_diff
_DIFF_PARAMS = (
    "splits", "n_shards", "seed", "epoch", "budget", "token_col",
    "id_col", "phase_col",
)


def corpus_manifest_diff(
    root: str, v_a: int | None = None, v_b: int | None = None
) -> dict:
    """Manifest-level deltas between two published versions — no data
    files touched: changed parameters (old, new), per-split count
    deltas, unassigned delta, and per-split pack-waste fractions where
    they differ."""
    v_a, v_b = _resolve_diff_versions(root, v_a, v_b)
    ma = read_manifest(root, v_a)
    mb = read_manifest(root, v_b)
    counts_a = {k: int(v) for k, v in ma.get("counts", {}).items()}
    counts_b = {k: int(v) for k, v in mb.get("counts", {}).items()}
    waste_a = ma.get("pack_waste") or {}
    waste_b = mb.get("pack_waste") or {}
    return {
        "version_a": int(ma["version"]),
        "version_b": int(mb["version"]),
        "params_changed": {
            k: [ma.get(k), mb.get(k)]
            for k in _DIFF_PARAMS
            if ma.get(k) != mb.get(k)
        },
        "counts_delta": {
            s: counts_b.get(s, 0) - counts_a.get(s, 0)
            for s in sorted(set(counts_a) | set(counts_b))
            if counts_b.get(s, 0) != counts_a.get(s, 0)
        },
        "unassigned_delta": int(mb.get("unassigned", 0))
        - int(ma.get("unassigned", 0)),
        "pack_waste_changed": {
            s: [
                (waste_a.get(s) or {}).get("fraction"),
                (waste_b.get(s) or {}).get("fraction"),
            ]
            for s in sorted(set(waste_a) | set(waste_b))
            if (waste_a.get(s) or {}).get("fraction")
            != (waste_b.get(s) or {}).get("fraction")
        },
    }
