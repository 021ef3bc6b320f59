"""Text-boundary parsers: CDX lines and Heritrix crawl logs -> typed DataFrames.

Everything here is pure column expressions (whole-stage-codegen friendly); no
Python UDFs. Each parser tokenizes a line ONCE: its typed columns come out of
a one-row generator (:func:`_typed_once`), a plan node later filters cannot be
pushed below, so a downstream predicate reads the typed column instead of
re-splitting the line. Reference semantics re-expressed:

- ``parse_cdx`` = pig/CDXLoader.java:55-138 + mapreduce/CDXMapper.java:72-135:
  header-line skip, '-' -> null, trailing-CR strip, unescaped-space-in-redirect
  repair (extra tokens collapsed back into the redirect field), 9/10/11-column
  positional variants.
- ``parse_crawllog`` = pig/CrawlLogLoader.java:31-121: 12+ whitespace fields ->
  13 columns, field 8 "start+duration" split on '+', '-' -> null, non-numeric
  size -> -1.
- ``read_cdx_text`` = hadoop/mapreduce/CDXInputFormat.java + LFOnlyLineReader:
  LF-only line splitting so bare CR bytes inside the redirect field survive.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ia_hadoop_tools_spark.schemas import CDX_COLUMNS, CRAWLLOG_SCHEMA

_DASH_NULLABLE = {
    "mimetype",
    "statuscode",
    "digest",
    "redirect",
    "meta_flags",
    "compressed_length",
    "compressed_offset",
    "filename",
}


def read_cdx_text(spark: SparkSession, paths) -> DataFrame:
    """Read raw CDX text with LF-only line splitting (CDXInputFormat semantics).

    ``lineSep='\\n'`` guarantees a bare ``\\r`` inside a redirect URL does NOT
    break the record — the reference built a whole LFOnlyLineReader for this.
    Gzip inputs decompress transparently (non-splittable, like GzipInputFormat;
    Spark coalesces many small gzips per task via maxPartitionBytes).
    """
    return spark.read.option("lineSep", "\n").text(paths)


def _typed_once(df: DataFrame, cols: Sequence[Column]) -> DataFrame:
    """``df.select(*cols)`` behind a barrier to predicate pushdown.

    Catalyst pushes a filter through a plain projection by substituting the
    projected expressions into the predicate. Over a parser that means every
    later filter on a typed column re-tokenizes the line: a
    parse_cdx -> cdx_filter -> global_wayback_filter plan held 52 copies of
    the split. ``inline`` of a one-element array is a one-row generator, and
    predicates on a generator's output stay above it, so the tokenizer runs
    once per line. Schema and nullability are those of the plain select.
    """
    return df.select(F.inline(F.array(F.struct(*cols))))


def _nullif_dash(col: Column) -> Column:
    return F.when(col == "-", F.lit(None).cast("string")).otherwise(col)


def parse_cdx(df: DataFrame, value_col: str = "value", variant: str = "auto") -> DataFrame:
    """Parse raw CDX lines into the typed 11-column CDX schema.

    variant: 'auto' (token count decides: 9 -> "N b a m s k r V g",
    10 -> "N b a m s k r M V g", >=11 -> full 11-col with space-in-redirect
    repair), or one of '9', '10', '11' to force a layout.

    Repair rule (pig/CDXLoader.java:91-105): an 11-column line that splits into
    >11 tokens has unescaped spaces in the redirect field; tokens[6..n-5] are
    re-joined with ' ' into redirect and the tail realigns to (M, S, V, g).

    Lines whose token count is below the minimum for the layout are dropped
    (the reference's loaders return null tuples for them).

    The typed columns come out of :func:`_typed_once`: a filter on them reads
    the parsed value, and only the token-count filter above repeats the split.
    """
    v = F.col(value_col)
    # Header-line skip (" CDX N b a m s k r M S V g") + trailing-CR strip.
    df = df.filter(~v.startswith(" CDX ")).withColumn(
        "__toks", F.split(F.regexp_replace(v, "\r$", ""), " ")
    )
    t = F.col("__toks")
    n = F.size(t)

    def tok(i: Column | int) -> Column:
        return F.element_at(t, i)

    # Tail positions are 1-based from the end via element_at(-k).
    eleven = {
        "urlkey": tok(1),
        "timestamp": tok(2),
        "original_url": tok(3),
        "mimetype": tok(4),
        "statuscode": tok(5),
        "digest": tok(6),
        # redirect = tokens 7..n-4 re-joined (repair collapses extra splits)
        "redirect": F.array_join(F.slice(t, 7, n - F.lit(10)), " "),
        "meta_flags": tok(-4),
        "compressed_length": tok(-3),
        "compressed_offset": tok(-2),
        "filename": tok(-1),
    }
    ten = dict(eleven)
    ten.update(
        redirect=tok(7),
        meta_flags=tok(8),
        compressed_length=F.lit(None).cast("string"),
        compressed_offset=tok(9),
        filename=tok(10),
    )
    nine = dict(ten)
    nine.update(
        meta_flags=F.lit(None).cast("string"),
        compressed_offset=tok(8),
        filename=tok(9),
    )

    if variant == "auto":
        df = df.filter(n >= 9)
        cols = {
            name: F.when(n == 9, nine[name]).when(n == 10, ten[name]).otherwise(eleven[name])
            for name in CDX_COLUMNS
        }
    elif variant == "9":
        df = df.filter(n == 9)
        cols = nine
    elif variant == "10":
        df = df.filter(n == 10)
        cols = ten
    elif variant == "11":
        df = df.filter(n >= 11)
        cols = eleven
    else:
        raise ValueError(f"variant must be auto|9|10|11, got {variant!r}")

    out = []
    for name in CDX_COLUMNS:
        c = cols[name]
        if name in _DASH_NULLABLE:
            c = _nullif_dash(c)
        # try_cast: malformed numerics null out (the reference keeps these as
        # strings in flight and validates later; under ANSI a plain cast
        # would fail the whole job on one dirty line)
        if name == "statuscode":
            c = c.try_cast("int")
        elif name in ("compressed_length", "compressed_offset"):
            c = c.try_cast("long")
        out.append(c.alias(name))
    return _typed_once(df, out)


def cdx_to_text(df: DataFrame) -> DataFrame:
    """Typed CDX -> canonical 11-field text line (null -> '-',
    jobs/CDXTransformer.java:139-141)."""
    parts = [F.coalesce(F.col(c).cast("string"), F.lit("-")) for c in CDX_COLUMNS]
    return df.select(F.concat_ws(" ", *parts).alias("value"))


#: CDXJ JSON keys, in emission order, mapped to the typed CDX columns —
#: pywb's cdxj convention: every value a JSON STRING, absent fields omitted.
_CDXJ_KEYS = (
    ("url", "original_url"),
    ("mime", "mimetype"),
    ("status", "statuscode"),
    ("digest", "digest"),
    ("redirect", "redirect"),
    ("meta", "meta_flags"),
    ("length", "compressed_length"),
    ("offset", "compressed_offset"),
    ("filename", "filename"),
)


def cdx_to_cdxj(df: DataFrame) -> DataFrame:
    """Typed CDX -> CDXJ lines: ``urlkey timestamp {json}``.

    The modern (pywb / OpenWayback 3) index format: same sort key prefix as
    plain CDX, attributes as a JSON object with string values, nulls
    omitted. Not in the reference (it predates CDXJ) — interchange with the
    current wayback stack is what makes this engine's clusters consumable
    there. Pure codegen projection (``to_json`` drops null fields).
    """
    obj = F.to_json(
        F.struct(
            *[
                F.col(col).cast("string").alias(key)
                for key, col in _CDXJ_KEYS
            ]
        )
    )
    return df.select(
        F.concat_ws(
            " ", F.col("urlkey"), F.col("timestamp"), obj
        ).alias("value")
    )


def parse_cdxj(df: DataFrame, value_col: str = "value") -> DataFrame:
    """CDXJ lines -> the same typed 11-column schema as :func:`parse_cdx`.

    ``split(value, ' ', 3)`` keeps spaces inside the JSON object intact;
    attributes parse as a string map, numerics try_cast (malformed values
    null out rather than failing the job, matching parse_cdx). Roundtrip
    ``parse_cdxj(cdx_to_cdxj(x)) == x`` is the oracle-checked contract.
    """
    v = F.split(F.col(value_col), " ", 3)
    m = F.from_json(F.element_at(v, 3), "map<string,string>")
    cols = {
        "urlkey": F.element_at(v, 1),
        "timestamp": F.element_at(v, 2),
    }
    for key, col in _CDXJ_KEYS:
        cols[col] = m.getItem(key)
    out = []
    for name in CDX_COLUMNS:
        c = cols[name]
        if name == "statuscode":
            c = c.try_cast("int")
        elif name in ("compressed_length", "compressed_offset"):
            c = c.try_cast("long")
        out.append(c.alias(name))
    return _typed_once(df.filter(F.size(v) >= 3), out)


def parse_crawllog(df: DataFrame, value_col: str = "value") -> DataFrame:
    """Heritrix crawl log lines -> 13-column typed DataFrame.

    Fields are whitespace-delimited (runs collapse); output columns per
    CRAWLLOG_SCHEMA. Field 8 is ``start_time+duration`` (split on '+'); '-'
    yields nulls for both. A non-numeric size becomes -1
    (pig/CrawlLogLoader.java:60-99). Lines with <12 fields are dropped.
    The columns come out of :func:`_typed_once`, as in :func:`parse_cdx`.
    """
    # strip a trailing \r first (CrawlLogLoader.java:44-46): CRLF input
    # read with lineSep="\n" would otherwise leave \r glued to the last
    # token (trim strips spaces only, and \s+ split KEEPS a trailing
    # empty token, corrupting the annotations field)
    df = df.withColumn(
        "__toks",
        F.split(
            F.trim(F.regexp_replace(F.col(value_col), "\r$", "")), r"\s+"
        ),
    )
    t = F.col("__toks")
    df = df.filter(F.size(t) >= 12)

    def tok(i: int) -> Column:
        return F.element_at(t, i)

    f8 = tok(9)  # 1-based token 9 == reference field index 8
    size_raw = tok(3)
    cols = [
        tok(1).alias("log_ts"),
        tok(2).try_cast("int").alias("status"),
        F.coalesce(
            F.when(size_raw == "-", F.lit(-1)).otherwise(size_raw.try_cast("long")), F.lit(-1)
        ).alias("size"),
        tok(4).alias("url"),
        _nullif_dash(tok(5)).alias("discovery_path"),
        _nullif_dash(tok(6)).alias("via_url"),
        _nullif_dash(tok(7)).alias("content_type"),
        tok(8).alias("thread"),
        F.when(f8 == "-", F.lit(None).cast("string"))
        .otherwise(F.split(f8, r"\+").getItem(0))
        .alias("start_time"),
        F.when(f8 == "-", F.lit(None).cast("long"))
        .otherwise(F.split(f8, r"\+").getItem(1).try_cast("long"))
        .alias("duration"),
        _nullif_dash(tok(10)).alias("content_hash"),
        _nullif_dash(tok(11)).alias("source_tag"),
        _nullif_dash(F.array_join(F.slice(t, 12, F.size(t) - F.lit(11)), " ")).alias(
            "annotations"
        ),
    ]
    out = _typed_once(df, cols)
    assert [f.name for f in CRAWLLOG_SCHEMA.fields] == out.columns
    return out


def recanonicalize(
    df: DataFrame,
    url_col: str = "original_url",
    key_col: str = "urlkey",
    skip_on_fail: bool = True,
    use_udf: bool = True,
) -> DataFrame:
    """Re-key CDX rows from their original URL (pig/udf/Recanonicalize.java:
    10-53, toSURT.java:4-9 — re-run canonicalization over an existing table,
    e.g. after canonicalizer rule changes).

    ``use_udf=True`` routes through the full pandas canonicalizer (IP-literal
    and session-param edge cases); ``False`` uses the pure-codegen
    ``surt_expr`` hot path. ``skip_on_fail`` drops rows whose URL cannot be
    canonicalized (CDXMapper.java:111-119 skipOnCanonFail) — UDF path only:
    ``surt_expr`` is best-effort string mangling that never yields null for
    a non-null URL, so the combination would be a silent no-op that writes
    garbage keys into the cluster; it raises instead.
    """
    from ia_hadoop_tools_spark.functions.surt import surt_expr, surt_udf

    if skip_on_fail and not use_udf:
        raise ValueError(
            "skip_on_fail requires use_udf=True: the codegen surt_expr "
            "path cannot signal canonicalization failure (it never "
            "returns null for a non-null URL)"
        )
    key = surt_udf(F.col(url_col)) if use_udf else surt_expr(F.col(url_col))
    out = df.withColumn(key_col, key)
    if skip_on_fail:
        out = out.filter(F.col(key_col).isNotNull())
    return out
