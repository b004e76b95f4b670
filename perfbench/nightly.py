"""nightly_batch: the paper's workload. One operation is one
``run_daily_batch`` night; a cycle is every night of the seeded inbox on
a fresh warehouse, then one rerun with no new input.

The workload is not primed: cron starts a fresh process every night, so
the first night's first-use (JIT) cost is part of what the user waits for.
"""

from __future__ import annotations

import datetime as dt
import os
import time

import gen
from harness import Bench, Checker, canon, catalog_space

# Sized after the sf0.1 tables the dims are modelled on: one card per sf0.1
# customer (15,000), one terminal per sf0.1 supplier (1,000), and as many
# background transactions a night as there are cards.
NIGHTS = 2
ROWS_PER_NIGHT = 15_000
CARDS = 15_000
TERMINALS = 1_000
RERUNS = 1              # nights with no new input after the last one
CYCLE_S = 24.0          # nominal cycle length on a 4-core host: sets cycles per run
REPORT_COLS = ["trans_id", "event_type", "event_dt", "passport", "fio", "phone"]


def generate(seed: int, work: str) -> dict:
    return gen.nightly_inputs(seed, os.path.join(work, "nightly"), NIGHTS,
                              ROWS_PER_NIGHT, CARDS, TERMINALS)


def _dims(spark, inp: dict) -> dict:
    return {name: spark.read.parquet(os.path.join(inp["dims_dir"], f"{name}.parquet"))
            for name in ("cards", "accounts", "clients", "blacklist")}


def _deliver(files: list[str], inbox: str) -> int:
    n = 0
    for f in files:
        os.link(f, os.path.join(inbox, os.path.basename(f)))
        n += os.path.getsize(f)
    return n


def _cycle(b: Bench, inp: dict, root: str, rec: dict, reruns: int):
    """All nights on a fresh warehouse, then ``reruns`` no-new-input reruns."""
    from etl_process_spark.pipeline.runner import run_daily_batch

    inbox, wh = os.path.join(root, "inbox"), os.path.join(root, "wh")
    os.makedirs(inbox)
    dims = _dims(b.spark, inp)
    results, nights = [], []
    t0 = time.perf_counter()
    for d, night in enumerate(inp["nights"]):
        rec["input_bytes"] += _deliver(night["files"], inbox)
        clock = dt.datetime.fromisoformat(night["clock"])
        with b.op(f"night{d}") as op:
            results.append(run_daily_batch(b.spark, inbox_dir=inbox, warehouse_dir=wh,
                                           dims=dims, clock=clock))
        nights.append(op["seconds"])
        b.count_leaks()
        b.clean()
    total = time.perf_counter() - t0
    results_rerun, rerun_s = [], []
    for k in range(reruns):
        clock = clock + dt.timedelta(days=1)
        with b.op(f"rerun{k}", kind="rerun") as op:
            results_rerun.append(run_daily_batch(b.spark, inbox_dir=inbox,
                                                 warehouse_dir=wh, dims=dims, clock=clock))
        rerun_s.append(op["seconds"])
        b.count_leaks()
        b.clean()
    return results, results_rerun, nights, total, rerun_s, wh


def _check(b: Bench, inp: dict, wh: str, results, reruns, rep_before: int):
    """Actual vs reference for one cycle's final warehouse."""
    from pyspark.sql import functions as F

    from etl_process_spark.pipeline.fraud import build_fraud_report, enrich_transactions
    from etl_process_spark.sources.tables import TableCatalog

    spark = b.spark
    cat = TableCatalog(spark, wh)
    exp = inp["expected"]
    dims = _dims(spark, inp)
    fact = cat.read("fact_transactions")
    rep = cat.read("rep_fraud")
    clock = dt.datetime.fromisoformat(inp["nights"][-1]["clock"])
    scratch = build_fraud_report(
        enrich_transactions(fact, cat.read("dim_terminals_hist"), dims["cards"],
                            dims["accounts"], dims["clients"], cat.read("fact_blacklist")),
        clock, include_trans_id=True)
    rep_rows = rep.select(*REPORT_COLS).collect()
    fact_rows, unique_ids = fact.agg(F.count("*"), F.countDistinct("trans_id")).first()
    by_rule = {}
    for r in rep_rows:
        by_rule[str(r["event_type"])] = by_rule.get(str(r["event_type"]), 0) + 1
    actual = {
        "rep_fraud": canon(rep_rows),
        "fact_rows": fact_rows,
        "fact_rows_reported": sum(r.transactions_appended for r in results),
        "quarantined": cat.read("quarantine_transactions").count(),
        "quarantined_reported": sum(r.transactions_quarantined for r in results),
        "blacklist_entries": cat.read("fact_blacklist").count(),
        "terminal_versions": cat.read("dim_terminals_hist").count(),
        "rule_counts": by_rule,
        "rerun_files": sum(r.transactions_files + r.blacklist_files + r.terminal_snapshots
                           for r in reruns),
        "rerun_report_rows": sum(r.report_rows for r in reruns),
        "rerun_growth": len(rep_rows) - rep_before,
        "unique_trans_ids": unique_ids,
    }
    reference = {
        "rep_fraud": canon(scratch.select(*REPORT_COLS).collect()),
        "fact_rows": exp["fact_rows"],
        "fact_rows_reported": exp["fact_rows"],
        "quarantined": exp["quarantined"],
        "quarantined_reported": exp["quarantined"],
        "blacklist_entries": exp["blacklist_entries"],
        "terminal_versions": exp["terminal_versions"],
        "rule_counts": exp["rule_counts"],
        "rerun_files": 0,
        "rerun_report_rows": 0,
        "rerun_growth": 0,
        "unique_trans_ids": exp["fact_rows"],
    }
    return actual, reference


def measure(b: Bench, inputs: dict, seconds: float, root: str) -> dict:
    inp = inputs
    cycles = max(1, round(seconds / CYCLE_S))
    chk = Checker()
    rec = {"ops": [], "totals": [], "reruns": [], "input_bytes": 0,
           "tx_files": 0, "nights": 0}
    for c in range(cycles):
        croot = os.path.join(root, f"cycle{c}")
        try:
            results, reruns, nights, total, rerun_s, wh = _cycle(b, inp, croot, rec, RERUNS)
        except Exception as exc:
            chk.error(f"cycle{c}", len(inp["nights"]) + RERUNS, exc)
            b.clean()
            continue
        rec["ops"] += nights
        rec["totals"].append(total)
        rec["reruns"] += rerun_s
        rec["tx_files"] += sum(r.transactions_files for r in results)
        rec["nights"] += len(nights)
        rep_before = sum(r.report_rows for r in results)
        actual, reference = _check(b, inp, wh, results, reruns, rep_before)
        chk.check(f"cycle{c}", len(nights) + RERUNS, actual, reference, "rep_fraud")
        rec["catalog"] = catalog_space(wh)
        b.clean()
    rec["checker"] = chk
    return rec
