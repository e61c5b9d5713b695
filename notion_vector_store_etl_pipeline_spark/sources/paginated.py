"""Custom paginated data source (Spark 4 Python DataSource API) — the
reference's cursor-pagination loops (`Notion_openai_vector_etl.py:
446-456, 458-465, 470-475, 538-596`: `while has_more` over page_size=100
API responses) re-expressed the Spark way: every page is an
InputPartition, so the "pagination loop" becomes a parallel partitioned
scan planned by the engine (SURVEY.md §2.1 S1-S3, §2.5 X2).

Here the "API" is backed by a parquet file (the fixtures stand in for
the remote workspace); a real connector would issue the cursor fetch
inside ``read()`` on the executor — same partition planning, same
schema contract, the transport is the only thing that changes. Rate
limiting then lives per-partition (bounded concurrent pages), which is
exactly how the reference throttles (sequential pages, `:652-653`) but
parallel across executors.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

PAGE_SIZE = 100  # the reference's page_size=100 everywhere


@dataclass
class PagePartition(InputPartition):
    path: str
    start: int
    end: int  # exclusive


class PaginatedReader(DataSourceReader):
    def __init__(self, options):
        self.path = options.get("path")
        if self.path is None:
            raise ValueError("paginated source requires .option('path', ...)")
        self.page_size = int(options.get("page_size", PAGE_SIZE))

    def partitions(self):
        import pyarrow.parquet as pq

        n_rows = pq.ParquetFile(self.path).metadata.num_rows
        return [
            PagePartition(self.path, start, min(start + self.page_size, n_rows))
            for start in range(0, n_rows, self.page_size)
        ]

    def read(self, partition: PagePartition):
        # executor-side "page fetch": a real connector would call the
        # remote API with this partition's cursor here. Only the row
        # groups overlapping this page are decoded — per-page cost is
        # proportional to the page, not the file.
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(partition.path)
        offset = 0
        for rg in range(pf.metadata.num_row_groups):
            n = pf.metadata.row_group(rg).num_rows
            lo, hi = offset, offset + n
            offset = hi
            if hi <= partition.start or lo >= partition.end:
                continue
            table = pf.read_row_group(rg)
            s = max(partition.start - lo, 0)
            e = min(partition.end - lo, n)
            for batch in table.slice(s, e - s).to_batches():
                for row in batch.to_pylist():
                    yield tuple(row.values())


class PaginatedStreamReader(SimpleDataSourceStreamReader):
    """Cursor pagination as a STREAM: each micro-batch consumes the next
    ``pages_per_batch`` pages, the stream offset IS the cursor position,
    and Spark's checkpoint persists it — the reference's resumable
    ``while has_more`` loop (`:446-456`) with exactly-once bookkeeping
    delegated to Structured Streaming instead of a hand-rolled manifest.

    ``read(start)`` serves new data and advances the cursor;
    ``readBetweenOffsets`` replays a committed range after restart
    (Spark calls it for in-flight batches during recovery, so the
    fetch must be deterministic for a given cursor range — true for
    any offset-paginated API).
    """

    def __init__(self, options):
        self.path = options.get("path")
        if self.path is None:
            raise ValueError("paginated source requires .option('path', ...)")
        self.page_size = int(options.get("page_size", PAGE_SIZE))
        self.pages_per_batch = int(options.get("pages_per_batch", 1))

    def initialOffset(self) -> dict:
        return {"cursor": 0}

    def _n_rows(self) -> int:
        import pyarrow.parquet as pq

        return pq.ParquetFile(self.path).metadata.num_rows

    def _rows(self, start: int, end: int):
        # list_iterator, not a generator: Spark's prefetch cache both
        # next()s and copy.copy()s the returned iterator
        # (datasource_internal.add_result_to_cache / getCache); a bare
        # generator isn't copyable and a bare list isn't an iterator.
        # A page range is small by design, so materializing is fine.
        return iter(
            list(
                PaginatedReader(
                    {"path": self.path, "page_size": str(self.page_size)}
                ).read(PagePartition(self.path, start, end))
            )
        )

    def read(self, start: dict):
        lo = start["cursor"]
        hi = min(lo + self.pages_per_batch * self.page_size, self._n_rows())
        if hi <= lo:  # caught up: empty batch, cursor unchanged
            return iter([]), {"cursor": lo}
        return self._rows(lo, hi), {"cursor": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        return self._rows(start["cursor"], end["cursor"])


class PaginatedSource(DataSource):
    """``spark.read.format("paginated")`` for the batch scan (every page
    an InputPartition), ``spark.readStream.format("paginated")`` for the
    incremental cursor walk (every micro-batch a page range)."""

    @classmethod
    def name(cls) -> str:
        return "paginated"

    def schema(self):
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        return from_arrow_schema(pq.ParquetFile(self.options["path"]).schema_arrow)

    def reader(self, schema) -> PaginatedReader:
        return PaginatedReader(self.options)

    def simpleStreamReader(self, schema) -> PaginatedStreamReader:
        return PaginatedStreamReader(self.options)


def register_paginated_source(spark) -> None:
    spark.dataSource.register(PaginatedSource)


def foreach_page_batch(
    spark, source_path: str, page_size: int, pages_per_batch: int, checkpoint_dir: str, process
):
    """Start a query that walks ``source_path`` ``pages_per_batch``
    pages of ``page_size`` rows at a time and hands each micro-batch to
    ``process(batch, batch_id)``; the cursor (and so resume) is owned
    by the checkpoint at ``checkpoint_dir``."""
    register_paginated_source(spark)
    return (
        spark.readStream.format("paginated")
        .option("path", source_path)
        .option("page_size", str(page_size))
        .option("pages_per_batch", str(pages_per_batch))
        .load()
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
