"""Exact heavy hitters at scale — Misra-Gries candidates + exact verify.

The naive plan for "keys occurring in ≥ f of all rows" is a full
groupBy(key).count(): its shuffle carries one record per DISTINCT key,
which at 100 TB (think: URL or document-fingerprint keys) is itself a
multi-TB shuffle for an answer that names a handful of keys.

Two-phase exact plan instead:

1. **Candidates** — one scan; each input partition summarizes its keys
   with a Misra-Gries sketch of ``capacity`` counters (vectorized over
   Arrow batches via ``mapInPandas``; memory O(capacity) per task).
   Merged per-partition summaries underestimate any key's true count by
   at most N/(capacity+1) total (mergeable-summaries bound, Agarwal et
   al., PODS'12), so every true heavy hitter survives the candidate
   cut — the phase-1 shuffle carries at most partitions × capacity rows,
   independent of key cardinality.
2. **Verify** — second scan; semi-join the (tiny, broadcast) candidate
   set and count exactly, keeping count ≥ ceil(f·N). The verify phase
   removes false positives; completeness needs capacity ≥ 1/f (then
   N/(capacity+1) < f·N ≤ threshold, so a true heavy hitter cannot have
   been fully decremented out of every partition summary) — the
   operator clamps capacity to that floor. Larger capacity only
   shrinks the candidate set further.

The reference has no frequency analysis (SURVEY §2.4: no GROUP BY at
all); this is training-data extension surface — boilerplate detection,
hot-key discovery before a join, vocabulary pruning.
"""

from __future__ import annotations

import math
from collections.abc import Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, LongType, StructField, StructType

from etl_process_spark.session import checkpoint


def _mg_summarize(
    key_cols: list[str], capacity: int
):
    """Build the mapInPandas function: one Misra-Gries summary per input
    partition, plus a single marker row carrying the partition row count
    (so phase 2 knows N without a second pass over the data)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict[tuple, int] = {}
        n_rows = 0
        for pdf in batches:
            n_rows += len(pdf)
            batch_counts = pdf.groupby(key_cols, dropna=False, sort=False).size()
            for key, c in batch_counts.items():
                k = key if isinstance(key, tuple) else (key,)
                counters[k] = counters.get(k, 0) + int(c)
            if len(counters) > capacity:
                # batch-MG reduction: drop the (capacity+1)-th largest
                # count from every counter (≡ that many decrement-alls)
                cut = sorted(counters.values(), reverse=True)[capacity]
                counters = {
                    k: v - cut for k, v in counters.items() if v - cut > 0
                }
        out = pd.DataFrame(
            [list(k) + [v, False] for k, v in counters.items()]
            + [[None] * len(key_cols) + [n_rows, True]],
            columns=key_cols + ["__est", "__marker"],
        )
        yield out

    return fn


def heavy_hitters(
    df: DataFrame,
    key_cols: Sequence[str],
    min_frac: float,
    capacity: int | None = None,
) -> DataFrame:
    """All key tuples appearing in at least ``ceil(min_frac * N)`` rows,
    with their EXACT counts (column ``cnt``).

    ``capacity`` defaults to ``max(16, ceil(4/min_frac))`` so the
    candidate cut sits at ~¾ of the threshold — small candidate sets
    with the superset guarantee intact; any explicit capacity is
    clamped to the ``ceil(1/min_frac)`` completeness floor (see module
    docstring).
    """
    if not 0 < min_frac <= 1:
        raise ValueError("min_frac must be in (0, 1]")
    key_cols = list(key_cols)
    floor_cap = math.ceil(1 / min_frac)
    if capacity is None:
        capacity = max(16, math.ceil(4 / min_frac))
    capacity = max(capacity, floor_cap)
    in_fields = {f.name: f for f in df.schema.fields}
    out_schema = StructType(
        [in_fields[c] for c in key_cols]
        + [StructField("__est", LongType()), StructField("__marker", BooleanType())]
    )
    summaries = checkpoint(  # one scan feeds both N and the candidate agg
        df.select(*key_cols)
        .mapInPandas(_mg_summarize(key_cols, capacity), out_schema)
    )
    n_total = (
        summaries.filter(F.col("__marker")).agg(F.sum("__est")).first()[0] or 0
    )
    if n_total == 0:
        return df.select(*key_cols).groupBy(*key_cols).agg(
            F.count(F.lit(1)).alias("cnt")
        )
    threshold = math.ceil(min_frac * n_total)
    cand_cut = threshold - n_total // (capacity + 1)
    candidates = (
        summaries.filter(~F.col("__marker"))
        .groupBy(*key_cols)
        .agg(F.sum("__est").alias("__est_g"))
        .filter(F.col("__est_g") >= F.lit(cand_cut))
        .select(*key_cols)
    )
    # null-safe semi-join: a NULL key is a legal (and countable) key tuple
    cond = None
    for c in key_cols:
        clause = df[c].eqNullSafe(candidates[c])
        cond = clause if cond is None else cond & clause
    return (
        df.join(F.broadcast(candidates), cond, "left_semi")
        .groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= F.lit(threshold))
    )
