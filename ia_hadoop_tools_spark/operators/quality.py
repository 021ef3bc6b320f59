"""Corpus quality filtering and line-level dedup for training-data pipelines.

Not in the reference (its text processing stops at CDX metadata) — these are
the standard LLM-corpus cleaning steps re-expressed as Spark-native plans:

- ``repetition_stats``/``quality_filter``: Gopher-style word/2-gram
  repetition and shape heuristics (Rae et al. 2021, "Scaling Language
  Models", App. A1; same spirit as C4's cleaning in Raffel et al. 2020).
- ``dedup_lines``: C4-style corpus-wide exact line dedup — keep the FIRST
  occurrence of every distinct line, reassemble documents in order.
- ``scrub_pii``: regex redaction of emails / phone numbers / IPv4s.

Scale notes: the stats are two map-side-combinable aggregations over
exploded words/bigrams (shuffle rows are (doc_id, token) pairs, no text);
line dedup shuffles (line_hash, doc_id, pos) — the line text itself rides
only the first-occurrence rows; scrubbing is a pure codegen projection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Gopher-flavored default thresholds (App. A1), tuned permissive: a doc
# fails only on strong repetition/shape signals.
DEFAULT_RULES = {
    "min_words": 5,
    "max_words": 1_000_000,
    "min_mean_word_len": 2.0,
    "max_mean_word_len": 12.0,
    "max_top_word_fraction": 0.2,
    "max_dup_2gram_fraction": 0.3,
    "min_distinct_word_ratio": 0.2,
}


def _words(text_col: str):
    from ia_hadoop_tools_spark.functions.textfns import tokens

    return tokens(F.col(text_col))  # ONE tokenizer across the engine


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-doc repetition/shape stats: ``n_words``, ``mean_word_len``,
    ``distinct_word_ratio``, ``top_word_fraction``, ``dup_2gram_fraction``.

    Shape: explode words once -> count per (doc, word) -> per-doc max/sum
    (both aggregations combine map-side; only skinny rows shuffle), same
    for 2-grams; join the two skinny stat tables back to the ids.
    """
    # no ensure_min_partitions spread: re-shuffling every text row to
    # parallelize codegen tokenization measured slower (quality_rules
    # x0.89/x0.95 at sf0.1), and the gram groupBys shuffle right after.
    src = df.select(F.col(id_col), F.col(text_col))
    words = (
        src.select(F.col(id_col), F.explode(_words(text_col)).alias("__w"))
    )
    wstats = (
        words.groupBy(id_col, "__w")
        .agg(F.count("*").alias("__c"))
        .groupBy(id_col)
        .agg(
            F.sum("__c").alias("n_words"),
            F.count("*").alias("__distinct"),
            F.max("__c").alias("__top"),
            (F.sum(F.length("__w") * F.col("__c")) / F.sum("__c")).alias(
                "__mean_len"
            ),
        )
        .select(
            F.col(id_col),
            "n_words",
            F.round(F.col("__mean_len"), 6).alias("mean_word_len"),
            F.round(F.col("__distinct") / F.col("n_words"), 6).alias(
                "distinct_word_ratio"
            ),
            F.round(F.col("__top") / F.col("n_words"), 6).alias(
                "top_word_fraction"
            ),
        )
    )
    # zip_with pads the shorter side with null — drop the padded tail so a
    # doc of n words yields exactly n-1 bigrams
    bigrams = src.select(
        F.col(id_col),
        F.explode(
            F.filter(
                F.zip_with(
                    _words(text_col),
                    F.slice(_words(text_col), 2, 1 << 30),
                    lambda a, b: F.when(
                        b.isNotNull(), F.concat_ws(" ", a, b)
                    ),
                ),
                lambda g: g.isNotNull(),
            )
        ).alias("__g"),
    )
    gstats = (
        bigrams.groupBy(id_col, "__g")
        .agg(F.count("*").alias("__c"))
        .groupBy(id_col)
        .agg(
            F.sum("__c").alias("__total"),
            F.sum(F.col("__c") - 1).alias("__dups"),
        )
        .select(
            F.col(id_col),
            F.round(F.col("__dups") / F.col("__total"), 6).alias(
                "dup_2gram_fraction"
            ),
        )
    )
    return (
        df.select(id_col)
        .join(wstats, id_col, "left")
        .join(gstats, id_col, "left")
        .na.fill(
            {
                "n_words": 0,
                "mean_word_len": 0.0,
                "distinct_word_ratio": 0.0,
                "top_word_fraction": 0.0,
                "dup_2gram_fraction": 0.0,
            }
        )
    )


def quality_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    rules: dict | None = None,
) -> DataFrame:
    """Add boolean rule verdicts + an overall ``passes`` column.

    Returns one row per doc: the stats of ``repetition_stats`` plus
    ``passes`` (all rules hold). Filter-with-reasons rather than drop:
    pipelines audit WHY a doc fell out.
    """
    r = {**DEFAULT_RULES, **(rules or {})}
    stats = repetition_stats(df, id_col, text_col)
    checks = {
        "ok_n_words": (F.col("n_words") >= r["min_words"])
        & (F.col("n_words") <= r["max_words"]),
        "ok_word_len": (F.col("mean_word_len") >= r["min_mean_word_len"])
        & (F.col("mean_word_len") <= r["max_mean_word_len"]),
        "ok_top_word": F.col("top_word_fraction") <= r["max_top_word_fraction"],
        "ok_dup_2gram": F.col("dup_2gram_fraction")
        <= r["max_dup_2gram_fraction"],
        "ok_distinct": F.col("distinct_word_ratio")
        >= r["min_distinct_word_ratio"],
    }
    out = stats
    for name, cond in checks.items():
        out = out.withColumn(name, cond)
    passes = None
    for name in checks:
        c = F.col(name)
        passes = c if passes is None else (passes & c)
    return out.withColumn("passes", passes)


def dedup_lines(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus-wide exact line dedup, C4-style: every distinct line is kept
    only at its FIRST occurrence (lowest (doc_id, position)); documents are
    reassembled in original line order, and docs whose lines all lose are
    dropped.

    EMPTY lines are exempt (always kept): treating them as dedupable
    content would delete every blank line in the corpus except one global
    first occurrence — destroying paragraph structure everywhere, which
    is why reference line-dedup implementations exempt them.

    Shape: posexplode lines -> map-side-combinable groupBy(line) min
    (the winner; ties cannot happen on (doc, pos)) -> join back. A
    per-line WINDOW would funnel every occurrence of a hot duplicate
    line (the exact thing this operator targets) into one task; the
    groupBy partially aggregates before the shuffle, and join-side skew
    is AQE-splittable where window skew is not. The full line text
    shuffles once either way.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("__pos", "__line"),
    )
    # empty lines bypass the dedup entirely — besides the semantics,
    # the "" group would be the corpus-wide skew hotspot
    nonempty = lines.filter(F.col("__line") != "")
    winners = nonempty.groupBy("__line").agg(
        F.min(F.struct(F.col(id_col), F.col("__pos"))).alias("__winner")
    )
    ranked = (
        nonempty.join(winners, "__line")
        .filter(
            (F.col(f"__winner.{id_col}") == F.col(id_col))
            & (F.col("__winner.__pos") == F.col("__pos"))
        )
        .drop("__winner")
        .unionByName(lines.filter(F.col("__line") == ""))
    )
    return (
        ranked.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("__pos", "__line"))
                    ),
                    lambda s: s["__line"],
                ),
                "\n",
            ).alias(text_col)
        )
    )


# deliberately simple, auditable patterns — a production pipeline swaps in
# its own (the operator shape is the point: pure codegen projection)
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?\d[\d\s().-]{7,14}\d",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
}


def scrub_pii(
    df: DataFrame,
    text_col: str = "text",
    kinds: tuple = ("email", "ipv4", "phone"),
    replacement: str = "[REDACTED-{kind}]",
) -> DataFrame:
    """Replace PII-looking spans in ``text_col`` (pure codegen projection).

    Rules apply in ``kinds`` order, and the default puts ipv4 BEFORE
    phone: the loose phone pattern also matches 9+-char dotted quads, so
    the reverse order would redact most IP addresses as PHONE and leave
    redaction-kind audits wrong."""
    c = F.col(text_col)
    for kind in kinds:
        c = F.regexp_replace(
            c, PII_PATTERNS[kind], replacement.format(kind=kind.upper())
        )
    return df.withColumn(text_col, c)


def ngram_repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 6, 7, 8, 9, 10),
) -> DataFrame:
    """Gopher character-fraction repetition signals (Rae et al. 2021,
    App. A1.1 — the half of the repetition table ``repetition_stats``
    does not cover): per doc,

    - ``top_{n}gram_char_frac`` for n in ``top_ns``: characters covered
      by ALL occurrences of the single most frequent word n-gram,
      divided by the doc's whitespace-normalized character count;
    - ``dup_{n}gram_char_frac`` for n in ``dup_ns``: characters covered
      by every occurrence of every n-gram that occurs more than once,
      over the same denominator.

    Contract details (shared verbatim with the oracle): an n-gram's
    character length is its single-space-joined string length;
    overlapping occurrences count independently (no de-overlap pass —
    Spark-side de-overlap would need per-doc position sweeps for a
    signal used only as a monotone threshold), so values are capped at
    1.0 with ``least``; docs shorter than n words score 0 for that n.

    Scale shape: ONE corpus pass — every (n, gram) explodes from a
    single projection (per-length generators gated on word count:
    Spark's ``sequence(1, stop)`` is descending for stop < 1), the
    (doc, n, gram) count combines map-side, and the per-doc rollup is
    conditional aggregation over the skinny count rows.  No joins, no
    window functions, nothing corpus-sized on the driver.
    """
    from ia_hadoop_tools_spark.functions.textfns import tokens

    ns = sorted(set(top_ns) | set(dup_ns))
    w = tokens(F.col(text_col))

    def _gram_fn(n: int):
        # closure FACTORY, not a default-arg lambda: F.transform treats a
        # two-parameter lambda as (element, index) — `lambda i, n=n:`
        # would silently bind n to the POSITION (the decontam._win trap)
        def at(i):
            return F.struct(
                F.lit(n).alias("n"),
                F.concat_ws(" ", F.slice(w, i, n)).alias("g"),
            )

        return at

    grams = F.flatten(
        F.array(
            *[
                F.when(
                    F.size(w) >= n,
                    F.transform(
                        F.sequence(F.lit(1), (F.size(w) - n + 1).cast("int")),
                        _gram_fn(n),
                    ),
                ).otherwise(
                    F.array().cast("array<struct<n:int,g:string>>")
                )
                for n in ns
            ]
        )
    )
    counts = (
        df.select(F.col(id_col), F.explode(grams).alias("__ng"))
        .select(
            F.col(id_col),
            F.col("__ng.n").alias("__n"),
            F.col("__ng.g").alias("__g"),
        )
        .groupBy(id_col, "__n", "__g")
        .agg(F.count("*").alias("__c"))
    )
    chars = F.col("__c") * F.length("__g")
    aggs = [
        F.max(F.when(F.col("__n") == n, chars)).alias(f"__top{n}")
        for n in top_ns
    ] + [
        F.sum(
            F.when((F.col("__n") == n) & (F.col("__c") > 1), chars).otherwise(
                0
            )
        ).alias(f"__dup{n}")
        for n in dup_ns
    ]
    per_doc = counts.groupBy(id_col).agg(*aggs)
    total = F.length(F.concat_ws(" ", w)).alias("__total")
    base = df.select(F.col(id_col), total)

    def _frac(num_col: str):
        return F.round(
            F.least(
                F.coalesce(F.col(num_col), F.lit(0)).cast("double")
                / F.greatest(F.col("__total"), F.lit(1)).cast("double"),
                F.lit(1.0),
            ),
            6,
        )

    return base.join(per_doc, id_col, "left").select(
        F.col(id_col),
        *[_frac(f"__top{n}").alias(f"top_{n}gram_char_frac") for n in top_ns],
        *[_frac(f"__dup{n}").alias(f"dup_{n}gram_char_frac") for n in dup_ns],
    )
