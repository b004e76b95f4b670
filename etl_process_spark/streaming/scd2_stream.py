"""Streaming SCD2: dimension history maintained by a stream of change
batches via ``foreachBatch``.

The reference's incremental loop (cards.py:35-56 — poll the source for
rows past the watermark, merge, advance the watermark) IS a hand-rolled
streaming consumer. Structured Streaming replaces the poll/watermark
bookkeeping with source offsets, and ``foreachBatch`` hands each
micro-batch to the SAME batch ``scd2_merge`` used by the daily pipeline
— one merge implementation, two drivers, no semantic drift.

Each micro-batch is a read-modify-write of the dimension through
``TableCatalog`` (versioned-pointer swap ⇒ readers get snapshot
isolation per merge, the streaming analog of the reference's per-script
commit, transaction.py:113). Micro-batches arrive in source order, so
the resulting history equals applying the same batches sequentially in
batch mode — asserted exactly by the stream==batch test. The dimension
is dim-sized (SURVEY §4.3): the per-batch rewrite is small; facts never
go through this path.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_process_spark.operators.scd2 import scd2_init, scd2_merge
from etl_process_spark.sources.tables import TableCatalog


def scd2_sink(
    catalog: TableCatalog,
    table: str,
    key: str,
    tracked: Sequence[str],
    ts_col: str,
):
    """Build a ``foreachBatch`` function maintaining ``table`` as an SCD2
    dimension from a stream of upsert rows.

    Each row of the stream is "key had these tracked values as of
    ``ts_col``" (a CDC upsert feed). Within a micro-batch the LATEST row
    per key wins (earlier ones are superseded before the merge, exactly
    like the reference staging table holding one row per key); version
    open timestamps come from ``ts_col``.
    """

    def apply(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        # latest row per key inside the micro-batch: max_by on the unique
        # (ts, row-hash) composite would be overkill — ts ties within one
        # key+batch are resolved by struct max over all tracked values,
        # deterministic regardless of partitioning.
        latest = (
            batch.groupBy(key)
            .agg(
                F.max(
                    F.struct(F.col(ts_col).alias("__ts"), *[F.col(c) for c in tracked])
                ).alias("__r")
            )
            .select(
                F.col(key),
                *[F.col(f"__r.{c}").alias(c) for c in tracked],
                F.col("__r.__ts").alias(ts_col),
            )
        )
        if not catalog.exists(table):
            catalog.overwrite(
                table, scd2_init(latest, key, tracked, F.col(ts_col))
            )
            return
        # scd2_merge is one SQL statement over temp views, and a view lives
        # in one session; foreachBatch hands over a clone of the query's
        # session, so the dimension is read into the batch's session
        dim = TableCatalog(batch.sparkSession, catalog.root).read(table)
        merged = scd2_merge(
            dim,
            latest,
            key,
            list(tracked),
            new_effective_from=F.col(ts_col),
            changed_effective_from=F.col(ts_col),
        )
        catalog.overwrite(table, merged)

    return apply


def run_scd2_stream(
    stream: DataFrame,
    catalog: TableCatalog,
    table: str,
    key: str,
    tracked: Sequence[str],
    ts_col: str,
    checkpoint: str,
):
    """Attach the SCD2 sink to a stream and process all available data
    (one merge per micro-batch, source-offset tracked)."""
    return (
        stream.writeStream.foreachBatch(scd2_sink(catalog, table, key, tracked, ts_col))
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
