"""Streaming near-duplicate detection: maintain the LSH band index as
documents stream in, emitting candidate pairs per micro-batch.

The batch operators already split the problem the right way
(operators/dedup.py): ``lsh_band_index`` is the STORED state,
``lsh_probe_pairs`` is the per-batch increment that never re-reads the
corpus. Streaming composition is then mechanical — ``foreachBatch``
probes the current index and commits the epoch's NEW rows as one
append-only log segment per table (``TableCatalog.append_segment``):
the index gains only the batch's bands, the pairs table only the
batch's pairs. Per-epoch write volume is therefore O(batch), not
O(corpus) — the previous design unioned fresh bands into the stored
index and rewrote both whole tables through the catalog pointer swap
every trigger, an O(corpus) write per epoch that dominates everything
at 100 TB. Readers see the union of committed segments through
``catalog.read``; periodic ``catalog.compact`` folds the log back to
few large files (guide §6: write only new data, compact rarely).

Because bucket collision is pairwise (no transitivity), batch-at-a-time
probing surfaces EXACTLY the pairs a full-corpus recompute would (the
same theorem tests/test_dedup_incremental.py proves for the batch path)
— so a 100 TB corpus ingesting continuously gets its near-dup pairs at
O(batch) cost per trigger, with index state O(corpus bands) living in
the table catalog, not the state store.

Exactly-once under replay (a crash between the sink write and the
checkpoint commit makes Spark re-run the epoch with the same data and
the same epoch id):

* Each segment commit is idempotent: segment directories are keyed by
  epoch id and made visible by one atomic pointer swap; a committed id
  is never written again, and an uncommitted one's orphan directory is
  rewritten with deterministic content — so a replayed epoch commits
  byte-equivalent state, and ``has_segment`` short-circuits epochs that
  already committed fully.
* First write wins per document: already-indexed doc ids are anti-joined
  out of the batch BEFORE banding, so a re-delivered (or replayed) doc
  can neither duplicate its band rows nor re-derive its pairs. Every
  pair (a, b) is emitted exactly once — in the epoch where the later of
  a, b is first indexed — keeping the pairs table a set without the
  former O(corpus-pairs) anti-join against the full stored pairs table.
* Commit order is pairs-then-index, and pairs are derived from the
  pre-append index state: a crash between the two commits replays into
  "pairs committed, index not", where the batch is still un-indexed, so
  the rerun recomputes identical bands and completes the index commit.
  (The reverse order would replay into an already-indexed batch whose
  recomputed pair segment is empty — losing the crashed epoch's pairs.)

tests/test_streaming.py::test_neardup_stream_replayed_epoch_is_idempotent
forces the replay by deleting the checkpoint's last commit marker and
restarting — the post-replay index and pairs must equal a fresh
full-corpus run exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_process_spark.operators.dedup import (
    bucket_pairs,
    lsh_bands,
    probe_pairs_from_bands,
)
from etl_process_spark.session import persisted
from etl_process_spark.sources.tables import TableCatalog

INDEX_TABLE = "lsh_band_index"
PAIRS_TABLE = "neardup_pairs"


def neardup_sink(catalog: TableCatalog, text_col: str, id_col: str):
    """Build the ``foreachBatch`` function: probe, then append the
    epoch's new bands and pairs as O(batch) log segments."""

    def apply(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        eid = int(epoch_id)
        pairs_done = catalog.has_segment(PAIRS_TABLE, eid)
        index_done = catalog.has_segment(INDEX_TABLE, eid)
        if pairs_done and index_done:
            return  # fully-committed epoch replayed: nothing to redo
        index = catalog.read(INDEX_TABLE) if catalog.exists(INDEX_TABLE) else None
        if index is not None:
            # first-write-wins: drop already-indexed docs before banding
            # (re-delivery, or a replay that crashed mid-epoch) — their
            # bands AND pairs were committed when they first arrived
            indexed = index.select(F.col("doc").alias(id_col)).distinct()
            batch = batch.join(indexed, id_col, "left_anti")
        # the epoch's bands feed both the pair probe and the index
        # segment: band the batch once, and release the bands when the
        # epoch's commits are done (or have failed)
        with persisted(lsh_bands(batch, text_col, id_col)) as fresh_bands:
            pairs = (
                bucket_pairs(fresh_bands) if index is None
                else probe_pairs_from_bands(index, fresh_bands)
            )
            # pairs BEFORE index (see module docstring: the reverse order
            # loses a crashed epoch's pairs on replay)
            if not pairs_done:
                catalog.append_segment(
                    PAIRS_TABLE, pairs.select("doc_a", "doc_b"), eid
                )
            catalog.append_segment(INDEX_TABLE, fresh_bands, eid)

    return apply


def run_neardup_stream(
    stream: DataFrame,
    catalog: TableCatalog,
    text_col: str,
    id_col: str,
    checkpoint: str,
):
    """Attach the near-dup sink to a document stream and process all
    available data (one probe + index extension per micro-batch)."""
    return (
        stream.writeStream.foreachBatch(neardup_sink(catalog, text_col, id_col))
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
