"""ZipNum as a first-class Spark data source (PySpark 4 Python DataSource).

``spark.read.format("zipnum").load(cluster_dir)`` — the idiomatic skin over
the ZipNum codec (sources/zipnum.py), planned and read by the codec's own
``plan_blocks``/``read_block_lines``: the cluster's ``ALL.summary``
meta-index drives partition planning (one task per span of gzip members,
balanced by compressed bytes), and urlkey range predicates push down into
BLOCK PRUNING before any data I/O — the reference's binary search over the
summary (cdx/CDXCluster.java:31-43) expressed through ``pushFilters``.

Pushdown is partial by design: pruning is block-granular, so every filter is
returned to Spark for exact row-level re-evaluation — correctness never
depends on the pruning. Columns: ``urlkey``, ``timestamp`` (first two CDX
fields) and ``value`` (the full line).

Register per session::

    from ia_hadoop_tools_spark.sources.zipnum_datasource import register_zipnum
    register_zipnum(spark)
    df = spark.read.format("zipnum").option("skip_bad", "true").load(dir)
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence
from functools import partial

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)

from ia_hadoop_tools_spark.sources.zipnum import (
    Span,
    iter_summary_rows,
    plan_blocks,
    read_block_lines,
)

ZIPNUM_READ_SCHEMA = "urlkey string, timestamp string, value string"


class ZipNumBlocks(InputPartition):
    def __init__(self, spans: Sequence[Span]):
        self.spans = list(spans)


class ZipNumReader(DataSourceReader):
    def __init__(self, options: dict):
        self.cluster_dir = options.get("path")
        if not self.cluster_dir:
            raise ValueError("zipnum source requires .load(<cluster dir>)")
        self.skip_bad = str(options.get("skip_bad", "false")).lower() == "true"
        self.num_partitions = int(options.get("num_partitions", "32"))
        # item_api/item_dl route ALL I/O through the item-metadata
        # filesystem (sources/itemfs.py) — a remote cluster behind the
        # PetaboxFileSystem-style protocol becomes spark.read'able:
        #   spark.read.format("zipnum").option("item_api", base)
        #        .option("item_dl", base).load("itemid")
        self.item_api = options.get("item_api")
        self.item_dl = options.get("item_dl") or self.item_api
        self.start: str | None = None
        self.end: str | None = None

    def _filesystem(self):
        if not self.item_api:
            return None
        from ia_hadoop_tools_spark.sources.itemfs import make_item_filesystem

        return make_item_filesystem(self.item_api, self.item_dl)

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Narrow the block range from urlkey comparisons; every filter is
        also returned for exact row-level evaluation (partial pushdown)."""
        for f in filters:
            if getattr(f, "attribute", None) == ("urlkey",):
                v = getattr(f, "value", None)
                if isinstance(v, str):
                    if isinstance(f, (GreaterThanOrEqual, GreaterThan)):
                        if self.start is None or v > self.start:
                            self.start = v
                    elif isinstance(f, (LessThan, LessThanOrEqual)):
                        # block pruning needs an exclusive end. Summary keys
                        # are COMPOSITE ("urlkey<space>timestamp"), so the
                        # bound for <= v must sort above every "v <ts>" key:
                        # v+"\x00" sorted BELOW them (' ' > '\x00') and
                        # pruned blocks whose first line exactly matched v —
                        # silent row loss the row-level re-filter cannot
                        # repair. v+"￿" keeps every such block (and a
                        # superset is always safe here).
                        bound = v + "\uffff" if isinstance(f, LessThanOrEqual) else v
                        if self.end is None or bound < self.end:
                            self.end = bound
                    elif isinstance(f, EqualTo):
                        if self.start is None or v > self.start:
                            self.start = v
                        if self.end is None or v + "\uffff" < self.end:
                            self.end = v + "\uffff"
            yield f  # Spark re-applies everything exactly

    def partitions(self) -> Sequence[InputPartition]:
        spans = plan_blocks(
            partial(iter_summary_rows, self.cluster_dir, self._filesystem()),
            self.start, self.end, self.num_partitions,
        )
        return [ZipNumBlocks([s]) for s in spans] or [ZipNumBlocks([])]

    def read(self, partition: ZipNumBlocks):
        """Yield one Arrow RecordBatch per gzip member — the zero-copy fast
        path of the Python DataSource API (row tuples would round-trip every
        line through the pickler). Blocks are read by the codec's one read
        loop (``read_block_lines``: ranged reads through fsio, per-member
        salvage and skip_bad logging)."""
        import pyarrow as pa

        for lines in read_block_lines(
            self.cluster_dir, partition.spans, None, None,
            skip_bad=self.skip_bad, filesystem=self._filesystem(),
        ):
            keys, tss = [], []
            for line in lines:
                parts = line.split(" ", 2)
                keys.append(parts[0] if parts else None)
                tss.append(parts[1] if len(parts) > 1 else None)
            yield pa.RecordBatch.from_arrays(
                [pa.array(keys), pa.array(tss), pa.array(lines)],
                names=["urlkey", "timestamp", "value"],
            )


class ZipNumDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "zipnum"

    def schema(self) -> str:
        return ZIPNUM_READ_SCHEMA

    def reader(self, schema) -> ZipNumReader:
        return ZipNumReader(self.options)


def register_zipnum(spark) -> None:
    """Register the ``zipnum`` format on this session."""
    spark.dataSource.register(ZipNumDataSource)
