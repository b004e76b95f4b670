"""Daily-batch orchestrator — the engine analog of the reference's
``main.py:47-50`` (connect → transaction → black_list → terminals → dims →
report, run nightly by cron).

Where the reference runs 8 scripts as subprocesses, each opening its own DB
connections, this is ONE driver function over ONE SparkSession: every stage
is a function call sharing DataFrames and a ``TableCatalog`` warehouse.
Every catalog write, append or overwrite, lands in a new directory and
commits with one atomic pointer swap (the analog of each script's
``conn.commit()``). Three orderings are load-bearing:

- the loads come before the report, which joins the facts and dimensions
  they commit;
- the transactions files go oldest-first, each anti-joined against the
  fact the previous file appended;
- the terminals SCD2 merges go oldest-first, since versions must be
  applied in event order.

Nothing else is ordered. The three loads touch different tables and
watermark keys, and the data-quality gate reads only the fact, so a night
runs in two phases, each stage on its own thread of the one session: the
three loads side by side, then the gate beside the report. Spark runs jobs
that different threads submit at the same time, and a night's jobs are
small, so overlapping them fills cores that one chain of jobs leaves idle.

Idempotency comes from the same three mechanisms the reference uses:
filename-date watermarks (files at or below are never re-read), anti-join
dedup-on-insert for facts, and the SCD2 merge's no-op on unchanged state —
so re-running the batch with no new inputs appends nothing. Each file is
committed as catalog write, then watermark, then archive, so a run that
stops part-way leaves the file for the next run to re-read.

Row counts and watermark bounds ride on the writes: every catalog commit
returns the row count and date/timestamp bounds that one ``observe`` on its
own write collected, and the load's reject count comes from
``quality.observed`` on the staged and clean frames. Spark plans every
action on its own, so a ``count()`` beside a write runs the write's plan a
second time.
"""

from __future__ import annotations

import datetime as dt
import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Any

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from etl_process_spark.operators.scd2 import scd2_init, scd2_merge
from etl_process_spark.pipeline.fraud import (
    build_fraud_report,
    build_fraud_report_incremental,
    enrich_transactions,
)
from etl_process_spark.pipeline.loaders import (
    load_blacklist_file,
    quarantine_transactions,
    stage_transactions,
)
from etl_process_spark.pipeline.quality import observed
from etl_process_spark.sources.inbox import DatedInbox
from etl_process_spark.sources.tables import TableCatalog
from etl_process_spark.sources.watermark import WatermarkStore

TERMINAL_TRACKED = ["terminal_type", "terminal_city", "terminal_address"]


@dataclass
class BatchResult:
    """What each nightly run did — the engine's answer to the reference's
    row-count prints (transaction.py:62)."""

    transactions_files: int = 0
    transactions_appended: int = 0
    transactions_quarantined: int = 0
    blacklist_files: int = 0
    blacklist_appended: int = 0
    terminal_snapshots: int = 0
    report_rows: int = 0
    details: dict[str, Any] = field(default_factory=dict)


def _concurrently(
    spark: SparkSession, stages: dict[str, Callable[[], Any]]
) -> tuple[dict[str, Any], dict[str, float]]:
    """Run each stage on its own thread; return the results and the wall
    seconds, both keyed like ``stages``.

    The targets are wrapped here, on the calling thread, so the jobs they
    submit stay in the caller's job group and carry its tags. Every stage
    runs to its end; then the first failure, in ``stages`` order, is
    re-raised.
    """

    def timed(fn: Callable[[], Any]) -> Callable[[], tuple[Any, float]]:
        def run() -> tuple[Any, float]:
            t0 = time.perf_counter()
            return fn(), time.perf_counter() - t0

        return inheritable_thread_target(spark)(run)

    with ThreadPoolExecutor(max_workers=len(stages)) as pool:
        futures = {name: pool.submit(timed(fn)) for name, fn in stages.items()}
    done = {name: f.result() for name, f in futures.items()}
    return ({name: out for name, (out, _) in done.items()},
            {name: s for name, (_, s) in done.items()})


def run_daily_batch(
    spark: SparkSession,
    *,
    inbox_dir: str,
    warehouse_dir: str,
    dims: dict[str, DataFrame],
    clock: dt.datetime,
    archive: bool = True,
) -> BatchResult:
    """One nightly run: ingest every pending dated file, evolve the
    terminals SCD2 dimension, rebuild enrichment, append the fraud report.

    Parameters
    ----------
    dims : the DB-sourced dimension frames (``cards``, ``accounts``,
        ``clients``, ``blacklist`` current/history tables) — in the
        reference these come from the OLTP Postgres (cards.py:50-56); the
        offline engine takes them as inputs (parquet/JDBC upstream).
    clock : the injectable ``now()`` (F7) — report_dt and tombstone
        timestamps; pinned for reproducibility.

    ``details["stage_s"]`` has each stage's wall seconds (``transactions``,
    ``blacklist``, ``terminals``, ``dq``, ``report``; stages of one phase
    overlap). A stage that raises ends the run once the other stages of
    its phase have finished: their files stay committed, and a failed load
    skips the report.
    """
    cat = TableCatalog(spark, warehouse_dir)
    wm = WatermarkStore(f"{warehouse_dir}/watermarks.json")

    # --- transactions: dated inbox -> quarantine split -> dedup append ----
    # The counts ride on the fact write; the rejects, a second scan of the
    # file, are written only when there are any.
    def load_transactions() -> tuple[dict[str, int], dt.datetime | None]:
        tx_inbox = DatedInbox(inbox_dir, "transactions_*.txt")
        last = wm.get("transactions", "1900-01-01")
        counts = dict.fromkeys(
            ("transactions_files", "transactions_appended", "transactions_quarantined"), 0
        )
        min_new_ts: dt.datetime | None = None  # earliest newly-appended trans_date
        for fdate, path in tx_inbox.discover(after=dt.date.fromisoformat(last[:10])):
            fact = cat.read("fact_transactions") if cat.exists("fact_transactions") else None
            stg, stg_obs = observed(stage_transactions(spark, path))
            clean, rejects = quarantine_transactions(stg)
            clean, clean_obs = observed(clean)
            new_rows = clean if fact is None else clean.join(
                fact.select("trans_id"), on="trans_id", how="left_anti"
            )
            stats = cat.append("fact_transactions", new_rows)
            n_new = stats["rows"]
            batch_min = stats["min"]["trans_date"]
            if batch_min is not None and (min_new_ts is None or batch_min < min_new_ts):
                min_new_ts = batch_min
            try:
                n_rej = stg_obs.get["n_rows"] - clean_obs.get["n_rows"]
            except Py4JJavaError:
                # An empty clean side lets AQE replace the anti-join with an
                # empty relation, which drops the metrics its input stage
                # carried. Nothing was clean, so every staged row is a reject.
                n_rej = rejects.count()
            if n_rej:
                stamped = rejects.withColumn("load_date", F.lit(str(fdate)))
                cat.append("quarantine_transactions", stamped)
            counts["transactions_files"] += 1
            counts["transactions_appended"] += n_new
            counts["transactions_quarantined"] += n_rej
            wm.set("transactions", str(fdate))
            if archive:
                tx_inbox.archive(path)
        return counts, min_new_ts

    # --- blacklist: same protocol ----------------------------------------
    def load_blacklist() -> dict[str, int]:
        bl_inbox = DatedInbox(inbox_dir, "passport_blacklist_*.xlsx.csv")
        last = wm.get("blacklist", "1899-01-01")
        counts = dict.fromkeys(("blacklist_files", "blacklist_appended"), 0)
        for fdate, path in bl_inbox.discover(after=dt.date.fromisoformat(last[:10])):
            bl = cat.read("fact_blacklist") if cat.exists("fact_blacklist") else None
            stats = cat.append("fact_blacklist", load_blacklist_file(spark, path, bl))
            counts["blacklist_files"] += 1
            counts["blacklist_appended"] += stats["rows"]
            wm.set("blacklist", str(fdate))
            if archive:
                bl_inbox.archive(path)
        return counts

    # --- terminals: full-snapshot SCD2, one merge per file date -----------
    def load_terminals() -> dict[str, int]:
        term_inbox = DatedInbox(inbox_dir, "terminals_*.csv")
        last = wm.get("terminals", "1899-01-01")
        n_snapshots = 0
        for fdate, path in term_inbox.discover(after=dt.date.fromisoformat(last[:10])):
            snap = (
                spark.read.option("header", "true").csv(path)
                .select("terminal_id", *TERMINAL_TRACKED)
            )
            file_ts = F.lit(f"{fdate} 00:00:00")
            if cat.exists("dim_terminals_hist"):
                merged = scd2_merge(
                    cat.read("dim_terminals_hist"), snap, "terminal_id",
                    TERMINAL_TRACKED,
                    new_effective_from=file_ts,
                    changed_effective_from=file_ts,
                    source_keys=snap,
                    clock=clock,
                )
            else:
                merged = scd2_init(snap, "terminal_id", TERMINAL_TRACKED, file_ts)
            cat.overwrite("dim_terminals_hist", merged)
            n_snapshots += 1
            wm.set("terminals", str(fdate))
            if archive:
                term_inbox.archive(path)
        return {"terminal_snapshots": n_snapshots}

    loads, stage_s = _concurrently(spark, {
        "transactions": load_transactions,
        "blacklist": load_blacklist,
        "terminals": load_terminals,
    })
    tx_counts, min_new_ts = loads["transactions"]
    res = BatchResult(**tx_counts, **loads["blacklist"], **loads["terminals"],
                      details={"stage_s": stage_s})

    # --- data-quality gate: declarative expectations on the fact ----------
    # The reference's only check is a row-count print; the engine writes a
    # per-run violations report (one scan + one key shuffle, expectations.py).
    # Tonight's violation counts are collected by an observe on the append
    # itself, so the gate never reads back the report's history.
    def dq_gate() -> dict[str, int] | None:
        if not cat.exists("fact_transactions"):
            return None
        from etl_process_spark.pipeline import expectations as ex

        fact = cat.read("fact_transactions")
        dq = ex.check_expectations(
            fact,
            [
                ex.not_null("trans_id"),
                ex.not_null("trans_date"),
                ex.expect_expr("non_negative_amount", "amt IS NULL OR amt >= 0"),
                ex.unique("trans_id"),
            ],
        ).withColumn("run_clock", F.lit(str(clock)))
        obs = Observation()
        cat.append("dq_report", dq.observe(obs, F.map_from_entries(
            F.collect_list(F.struct("rule", "n_violations"))).alias("violations")))
        return obs.get["violations"]

    # --- report: enrichment join chain + 4 rules, append-only -------------
    # Incremental contract: after the first full build, each run derives
    # events only for trans_date beyond the report watermark, windowing
    # only the cards with a row past it (build_fraud_report_incremental),
    # so untouched cards cost nothing. The fact's max comes from the
    # catalog pointer's stats, not a job. Late-arriving facts
    # below the watermark pull the effective watermark back to just
    # before the earliest new row, so their events are still derived; the
    # dedup anti-join (bounded to the same lookback window — rep_fraud is
    # never scanned past it) absorbs the overlap. The dedup key is
    # (trans_id, event_type): NULL-free (passport can be NULL through the
    # LEFT-join chain and a NULL key never matches an anti-join) and
    # collision-free for same-second events. A retroactive dimension
    # rewrite that changes OLD transactions' enrichment needs an explicit
    # rebuild (clear the 'report' watermark + rep_fraud) — same as any
    # watermark-incremental pipeline. A night that appended no facts and
    # finds none past the watermark has no events to derive, and skips the
    # build and its write (an empty append still adds a file); facts that
    # an interrupted run appended but never reported are past the
    # watermark, so the next run reports them.
    def report_step() -> int:
        if not (cat.exists("fact_transactions") and cat.exists("dim_terminals_hist")):
            return 0
        fact_max = cat.column_max("fact_transactions", "trans_date")
        fact_wm = "" if fact_max is None else str(fact_max)
        stored_wm = wm.get("report", "")
        if not res.transactions_appended and fact_wm <= stored_wm:
            return 0
        blacklist = (
            cat.read("fact_blacklist")
            if cat.exists("fact_blacklist")
            else dims["blacklist"]
        )
        cl = enrich_transactions(
            cat.read("fact_transactions"),
            cat.read("dim_terminals_hist"),
            dims["cards"], dims["accounts"], dims["clients"],
            blacklist,
        )
        if not stored_wm:
            report = build_fraud_report(cl, clock, include_trans_id=True)
            eff_wm = None
        else:
            eff_wm = stored_wm
            if min_new_ts is not None and str(min_new_ts) <= stored_wm:
                eff_wm = str(min_new_ts - dt.timedelta(seconds=1))
            report = build_fraud_report_incremental(
                cl, eff_wm, clock, include_trans_id=True
            )
        if cat.exists("rep_fraud"):
            prior = cat.read("rep_fraud")
            if eff_wm is not None:
                prior = prior.filter(
                    F.col("event_dt") > F.to_timestamp(F.lit(eff_wm))
                )
            # the join puts its keys first; every night stores one order
            report = report.join(
                prior.select("trans_id", "event_type"),
                on=["trans_id", "event_type"], how="left_anti",
            ).select(*report.columns)
        n_rows = cat.append("rep_fraud", report)["rows"]
        if fact_wm > stored_wm:
            wm.set("report", fact_wm)
        return n_rows

    checks, check_s = _concurrently(spark, {"dq": dq_gate, "report": report_step})
    stage_s.update(check_s)
    if checks["dq"] is not None:
        res.details["dq_violations"] = checks["dq"]
    res.report_rows = checks["report"]
    return res
