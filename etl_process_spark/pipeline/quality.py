"""Zero-cost data-quality metrics via DataFrame.observe().

The reference's only observability is row-count prints after each load
(transaction.py:62, cards.py:69) — an extra count() pass per table in
Spark terms. ``observe`` attaches aggregate metrics to a plan that are
computed DURING whatever action runs anyway: a load's write action also
yields its row count, null counts, and min/max watermarks, with zero
additional scans. At 100 TB the difference between "metrics ride along"
and "metrics re-scan" is the whole nightly budget. The nightly runner
(``runner.run_daily_batch``) counts every load and the report this way.

One caveat: when a join input's query stage comes out empty, AQE replaces
the join with an empty relation, and metrics observed inside that input
go with it (``Observation.get`` then raises). Metrics observed above the
join always arrive.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def observed(
    df: DataFrame,
    null_check_cols: Sequence[str] = (),
    watermark_col: str | None = None,
) -> tuple[DataFrame, Observation]:
    """Attach standard load metrics to ``df``.

    Returns (df', observation). After ANY action on df', ``observation.get``
    yields: ``n_rows``, ``n_nulls_<col>`` per requested column, and
    ``wm_min``/``wm_max`` of ``watermark_col`` — the inputs of the
    reference's row-count print (A4), its skip-empty guard (cards.py:71),
    and its watermark advance (S10), all from the one pass the caller was
    already paying for.
    """
    metrics = [F.count(F.lit(1)).alias("n_rows")]
    for c in null_check_cols:
        metrics.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"n_nulls_{c}")
        )
    if watermark_col is not None:
        metrics.append(F.min(watermark_col).alias("wm_min"))
        metrics.append(F.max(watermark_col).alias("wm_max"))
    obs = Observation()
    return df.observe(obs, *metrics), obs
