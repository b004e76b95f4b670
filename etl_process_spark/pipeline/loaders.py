"""Fact loaders — file -> staged strings -> typed fact, append-only + dedup.

Parity with reference ``py_scripts/transaction.py`` / ``black_list.py``:
staging stays stringly-typed, the cast to warehouse types is an explicit
operator on the way in (CAST + European-decimal normalization), and the
insert dedups against the target via a left anti join on the business key —
which is what makes re-runs idempotent (transaction.py:80-84).

The whole load is one lazy DAG ending in one append action: read.csv ->
filter -> select/cast -> left_anti(fact) -> append (SURVEY §3 EP2). At
100 TB the anti-join is the only shuffle and AQE handles it; for a very
large fact the business key being the join key means bucketing the fact
table by ``trans_id`` would co-locate it — noted, not needed at dim scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_process_spark.functions.scalar import euro_decimal
from etl_process_spark.sources.readers import read_delimited

TRANSACTION_COLUMNS = [
    "transaction_id", "transaction_date", "amount", "card_num",
    "oper_type", "oper_result", "terminal",
]
BLACKLIST_COLUMNS = ["date", "passport"]


def stage_transactions(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """S1: semicolon CSV with header -> all-string staging frame."""
    return read_delimited(spark, path, TRANSACTION_COLUMNS, sep=";")


def typed_transactions(stg: DataFrame) -> DataFrame:
    """Staging -> warehouse types (transaction.py:69-79).

    * ``transaction_date`` string -> timestamp (F1/F2)
    * ``amount`` European format "1.234,56" -> decimal(15,2) (F3)
    """
    return stg.select(
        F.col("transaction_id").alias("trans_id"),
        F.col("transaction_date").cast("timestamp").alias("trans_date"),
        F.col("card_num"),
        F.col("oper_type"),
        euro_decimal("amount").alias("amt"),
        F.col("oper_result"),
        F.col("terminal"),
    )


def load_transactions_file(spark: SparkSession, path: str,
                           fact: DataFrame | None) -> DataFrame:
    """One file -> rows to append (dedup-on-insert, J1).

    Returns only the NEW fact rows; the caller appends them to the fact
    table (append-only sink S8). Idempotent: re-loading the same file
    appends nothing.
    """
    typed = typed_transactions(stage_transactions(spark, path))
    if fact is None:
        return typed
    return typed.join(fact.select("trans_id"), on="trans_id", how="left_anti")


def typed_blacklist(stg: DataFrame) -> DataFrame:
    """black_list.py:69-79: date cast + rename."""
    return stg.select(
        F.col("date").cast("date").alias("entry_dt"),
        F.col("passport").alias("passport_num"),
    )


def load_blacklist_file(spark: SparkSession, path: str,
                        fact: DataFrame | None) -> DataFrame:
    """Blacklist file -> new rows (dedup on passport_num, black_list.py:75-79)."""
    stg = read_delimited(spark, path, BLACKLIST_COLUMNS, sep=";")
    typed = typed_blacklist(stg)
    if fact is None:
        return typed
    return typed.join(fact.select("passport_num"), on="passport_num", how="left_anti")


def quarantine_transactions(stg: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split staged transactions into (clean_typed, rejects) — the
    dead-letter path the reference lacks.

    The reference's permissive casts (transaction.py:74-77 under
    non-ANSI SQL) turn malformed dates/amounts into silent NULLs in the
    warehouse. Here a row is quarantined when any typed column came out
    NULL from a NON-NULL source string — i.e. the value was present but
    unparseable. Absent source values (NULL in, NULL out) stay clean,
    preserving the reference's tolerance of missing fields.

    Rejects carry the RAW staging strings plus a ``reject_reasons``
    array, so they can be repaired and replayed through the same loader
    (idempotent thanks to the dedup-on-insert anti join). The split is a
    pure map-side expression — the reason array is computed inside
    whole-stage codegen, zero shuffles. Each branch that is written scans
    the input once; the nightly runner writes the clean branch, and the
    rejects only when the counts observed on that write show there are
    any, so a file without rejects is read once.
    """
    casts = {
        "transaction_date": F.col("transaction_date").cast("timestamp"),
        "amount": euro_decimal("amount"),
    }
    reasons = F.array_compact(
        F.array(
            *[
                F.when(
                    F.col(src).isNotNull() & typed.isNull(),
                    F.lit(f"unparseable_{src}"),
                )
                for src, typed in casts.items()
            ]
        )
    )
    tagged = stg.withColumn("reject_reasons", reasons)
    clean = typed_transactions(
        tagged.filter(F.size("reject_reasons") == 0).drop("reject_reasons")
    )
    rejects = tagged.filter(F.size("reject_reasons") > 0)
    return clean, rejects
