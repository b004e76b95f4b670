"""Daily-batch orchestrator e2e: two days through run_daily_batch, then a
no-new-input re-run that must be a complete no-op (watermarks + dedup +
SCD2 no-op — the reference's idempotency mechanisms, composed)."""

from __future__ import annotations

import datetime as dt
import json
from pathlib import Path

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from etl_process_spark.pipeline.runner import run_daily_batch
from etl_process_spark.sources.tables import TableCatalog

CLOCK = dt.datetime(2024, 3, 3, 1, 17, 0)  # the reference's cron hour

TX_HEADER = "transaction_id;transaction_date;amount;card_num;oper_type;oper_result;terminal\n"


@pytest.fixture()
def dims(spark):
    inf = dt.date(9999, 12, 31)
    eff = dt.datetime(2020, 1, 1)
    inf_ts = dt.datetime(9999, 12, 31)
    cards = spark.createDataFrame(
        [("CARD1               ", "ACC1", eff, inf_ts, "N"),
         ("CARD2               ", "ACC2", eff, inf_ts, "N")],
        "card_num string, account_num string, effective_from timestamp, "
        "effective_to timestamp, deleted_flg string",
    )
    accounts = spark.createDataFrame(
        [("ACC1", inf, "C1", eff, inf_ts, "N"), ("ACC2", inf, "C2", eff, inf_ts, "N")],
        "account_num string, valid_to date, client string, effective_from timestamp, "
        "effective_to timestamp, deleted_flg string",
    )
    clients = spark.createDataFrame(
        [("C1", "Ivanov", "Ivan", None, "P111", inf, "+7-1", eff, inf_ts, "N"),
         ("C2", "Petrov", "Petr", "P.", "P222", dt.date(2024, 1, 1), "+7-2", eff, inf_ts, "N")],
        "client_id string, last_name string, first_name string, patronymic string, "
        "passport_num string, passport_valid_to date, phone string, "
        "effective_from timestamp, effective_to timestamp, deleted_flg string",
    )
    blacklist = spark.createDataFrame(
        [], "entry_dt date, passport_num string"
    )
    return {"cards": cards, "accounts": accounts, "clients": clients,
            "blacklist": blacklist}


def _write_day1(inbox):
    (inbox / "transactions_01032024.txt").write_text(
        TX_HEADER
        + "T001;2024-03-01 10:00:00;1.234,56;CARD1               ;PAYMENT;SUCCESS;A1\n"
        + "T002;2024-03-01 11:00:00;10,00;CARD2               ;PAYMENT;SUCCESS;A1\n"
        + "T003;BROKEN-DATE;10,00;CARD2               ;PAYMENT;SUCCESS;A1\n"
    )
    (inbox / "terminals_01032024.csv").write_text(
        "terminal_id,terminal_type,terminal_city,terminal_address\n"
        "A1,POS,Moscow,addr1\nA2,POS,Kazan,addr2\n"
    )
    (inbox / "passport_blacklist_01032024.xlsx.csv").write_text(
        "date;passport\n2024-02-01;P999\n"
    )


def _write_day2(inbox):
    (inbox / "transactions_02032024.txt").write_text(
        TX_HEADER
        + "T004;2024-03-02 09:00:00;10,00;CARD1               ;PAYMENT;SUCCESS;A1\n"
        + "T005;2024-03-02 09:30:00;20,00;CARD1               ;PAYMENT;SUCCESS;A2\n"
    )
    (inbox / "terminals_02032024.csv").write_text(
        "terminal_id,terminal_type,terminal_city,terminal_address\n"
        "A1,POS,Moscow,addr1\nA2,POS,Samara,addr2\n"
    )


def _table_files(wh, table):
    """Every file under the table's version and segment directories."""
    return sorted(
        p for pat in (f"{table}_v*/**/*", f"{table}_seg*/**/*")
        for p in Path(wh).glob(pat) if p.is_file()
    )


def test_two_day_run_then_idempotent_rerun(spark, dims, tmp_path):
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    wh = str(tmp_path / "wh")

    _write_day1(inbox)
    r1 = run_daily_batch(
        spark, inbox_dir=str(inbox), warehouse_dir=wh, dims=dims,
        clock=dt.datetime(2024, 3, 2, 1, 17), archive=False,
    )
    assert r1.transactions_files == 1
    assert r1.transactions_appended == 2      # T003 quarantined
    assert r1.transactions_quarantined == 1
    assert r1.blacklist_appended == 1
    assert r1.terminal_snapshots == 1
    # wall seconds per stage, timed in Python (no Spark job added)
    stage_s = r1.details["stage_s"]
    assert set(stage_s) == {"transactions", "blacklist", "terminals", "dq", "report"}
    assert all(s > 0 for s in stage_s.values())

    cat = TableCatalog(spark, wh)
    fact = cat.read("fact_transactions")
    assert fact.count() == 2
    amt = {r["trans_id"]: str(r["amt"]) for r in fact.collect()}
    assert amt["T001"] == "1234.56"           # euro decimal parsed
    q = cat.read("quarantine_transactions").collect()
    assert [r["reject_reasons"] for r in q] == [["unparseable_transaction_date"]]

    _write_day2(inbox)
    r2 = run_daily_batch(
        spark, inbox_dir=str(inbox), warehouse_dir=wh, dims=dims,
        clock=CLOCK, archive=False,
    )
    assert r2.transactions_appended == 2
    assert r2.terminal_snapshots == 1
    # A2's SCD2 history has two versions after the city change
    hist = cat.read("dim_terminals_hist").filter(F.col("terminal_id") == "A2")
    cities = [r["terminal_city"] for r in hist.orderBy("effective_from").collect()]
    assert cities == ["Kazan", "Samara"]
    # rule 3 fired for the T005 city hop (30 min apart, Moscow -> Samara)
    rep = cat.read("rep_fraud")
    assert rep.filter(
        (F.col("event_type") == 3)
        & (F.col("event_dt") == dt.datetime(2024, 3, 2, 9, 30))
    ).count() == 1
    # every night's report files store the columns in the first night's order
    import pyarrow.parquet as pq

    rep_dirs = cat._current_dirs("rep_fraud")
    orders = {
        tuple(pq.read_schema(str(f)).names)
        for d in rep_dirs for f in Path(d).glob("*.parquet")
    }
    first = pq.read_schema(str(next(Path(rep_dirs[0]).glob("*.parquet")))).names
    assert orders == {tuple(first)}

    # --- re-run with no new inputs: everything is a no-op -----------------
    before = sorted(map(tuple, rep.collect()))
    rep_files = _table_files(wh, "rep_fraud")
    r3 = run_daily_batch(
        spark, inbox_dir=str(inbox), warehouse_dir=wh, dims=dims,
        clock=CLOCK + dt.timedelta(days=1), archive=False,
    )
    assert r3.transactions_files == 0
    assert r3.transactions_appended == 0
    assert r3.terminal_snapshots == 0
    assert r3.report_rows == 0
    assert sorted(map(tuple, cat.read("rep_fraud").collect())) == before
    # nothing new to report: no build, and no empty append adding a file
    assert _table_files(wh, "rep_fraud") == rep_files
    assert cat.read("fact_transactions").count() == 4

    # the DQ gate ran each time over the clean fact: zero violations,
    # 4 rows checked (the quarantined row never reached the warehouse)
    assert r3.details["dq_violations"] == {
        "not_null_trans_id": 0,
        "not_null_trans_date": 0,
        "non_negative_amount": 0,
        "unique_trans_id": 0,
    }
    last_dq = cat.read("dq_report").filter(
        F.col("run_clock") == str(CLOCK + dt.timedelta(days=1))
    )
    assert {r["n_checked"] for r in last_dq.collect()} == {4}


def test_null_passport_event_rerun_is_idempotent(spark, dims, tmp_path):
    """A rule-3 event on a card missing from the dims chain has NULL
    passport; the (trans_id, event_type) dedup key must keep re-runs
    no-ops anyway (a NULL key never matches a left_anti join, which made
    the old passport-keyed dedup re-append such events every night)."""
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    wh = str(tmp_path / "wh")

    # CARD9 is not in dims["cards"] -> passport NULL; city hop within 1h
    (inbox / "transactions_01032024.txt").write_text(
        TX_HEADER
        + "T101;2024-03-01 10:00:00;10,00;CARD9               ;PAYMENT;SUCCESS;A1\n"
        + "T102;2024-03-01 10:30:00;20,00;CARD9               ;PAYMENT;SUCCESS;A2\n"
    )
    (inbox / "terminals_01032024.csv").write_text(
        "terminal_id,terminal_type,terminal_city,terminal_address\n"
        "A1,POS,Moscow,addr1\nA2,POS,Samara,addr2\n"
    )
    r1 = run_daily_batch(
        spark, inbox_dir=str(inbox), warehouse_dir=wh, dims=dims,
        clock=CLOCK, archive=False,
    )
    cat = TableCatalog(spark, wh)
    rep = cat.read("rep_fraud")
    hop = rep.filter(F.col("event_type") == 3).collect()
    assert len(hop) == 1 and hop[0]["passport"] is None
    assert r1.report_rows == rep.count()

    before = sorted(map(tuple, rep.collect()))
    r2 = run_daily_batch(
        spark, inbox_dir=str(inbox), warehouse_dir=wh, dims=dims,
        clock=CLOCK + dt.timedelta(days=1), archive=False,
    )
    assert r2.report_rows == 0
    assert sorted(map(tuple, cat.read("rep_fraud").collect())) == before


def test_late_arriving_fact_still_reported(spark, dims, tmp_path):
    """A day-2 file carrying a transaction OLDER than the report
    watermark must still produce its events: the effective watermark is
    pulled back to just before the earliest new row, and the bounded
    dedup lookback absorbs the overlap without duplicating day-1 rows."""
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    wh = str(tmp_path / "wh")

    (inbox / "transactions_01032024.txt").write_text(
        TX_HEADER
        + "T201;2024-03-01 10:00:00;10,00;CARD1               ;PAYMENT;SUCCESS;A1\n"
        + "T202;2024-03-01 10:30:00;20,00;CARD1               ;PAYMENT;SUCCESS;A2\n"
    )
    # A3 must be live from day 1: the late fact below joins terminals
    # point-in-time, and a terminal first seen on day 2 is not valid for
    # a day-1 timestamp
    (inbox / "terminals_01032024.csv").write_text(
        "terminal_id,terminal_type,terminal_city,terminal_address\n"
        "A1,POS,Moscow,addr1\nA2,POS,Samara,addr2\nA3,POS,Kazan,addr3\n"
    )
    run_daily_batch(
        spark, inbox_dir=str(inbox), warehouse_dir=wh, dims=dims,
        clock=CLOCK, archive=False,
    )
    cat = TableCatalog(spark, wh)
    day1 = sorted(map(tuple, cat.read("rep_fraud").collect()))
    assert len(day1) == 1  # the T202 city hop

    # day-2 file: one late fact (03-01 10:20, BETWEEN the day-1 rows —
    # before the watermark) and one new fact. The late Kazan stop at
    # 10:20 changes the hop structure: Moscow@10:00 -> Kazan@10:20 and
    # Kazan@10:20 -> Samara@10:30 are both hops; the old Moscow->Samara
    # event stays (already appended, event row itself unchanged).
    (inbox / "transactions_02032024.txt").write_text(
        TX_HEADER
        + "T203;2024-03-01 10:20:00;15,00;CARD1               ;PAYMENT;SUCCESS;A3\n"
        + "T204;2024-03-02 09:00:00;30,00;CARD1               ;PAYMENT;SUCCESS;A2\n"
    )
    (inbox / "terminals_02032024.csv").write_text(
        "terminal_id,terminal_type,terminal_city,terminal_address\n"
        "A1,POS,Moscow,addr1\nA2,POS,Samara,addr2\nA3,POS,Kazan,addr3\n"
    )
    r2 = run_daily_batch(
        spark, inbox_dir=str(inbox), warehouse_dir=wh, dims=dims,
        clock=CLOCK + dt.timedelta(days=1), archive=False,
    )
    rep = cat.read("rep_fraud")
    # late T203 (Moscow->Kazan hop) got its event; T202's Kazan->Samara
    # re-derivation deduped against the already-stored T202 row
    t203 = rep.filter(F.col("trans_id") == "T203").collect()
    assert len(t203) == 1 and t203[0]["event_type"] == 3
    assert rep.filter(F.col("trans_id") == "T202").count() == 1
    assert r2.report_rows == 1  # only the late hop is new

    # third run, nothing new: full no-op
    r3 = run_daily_batch(
        spark, inbox_dir=str(inbox), warehouse_dir=wh, dims=dims,
        clock=CLOCK + dt.timedelta(days=2), archive=False,
    )
    assert r3.report_rows == 0


def test_day_two_runs_no_count_actions(spark, dims, tmp_path):
    """Counts ride on the writes (observe), catalog reads take their schema
    from the pointer and the report's watermark max comes from the
    pointer's stats, so a night runs only the jobs its writes and its DQ
    check need. A returning count() or first() over a load or the report,
    or a read that infers its schema, adds jobs and fails the upper bound.
    The stages run on threads of their own; their jobs must stay in the
    caller's job group (the lower bound), or a per-run ledger keyed by
    group loses them. Measured: 20 jobs for day 2."""
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    wh = str(tmp_path / "wh")
    _write_day1(inbox)
    run_daily_batch(
        spark, inbox_dir=str(inbox), warehouse_dir=wh, dims=dims,
        clock=dt.datetime(2024, 3, 2, 1, 17), archive=False,
    )
    _write_day2(inbox)
    sc = spark.sparkContext
    sc.setJobGroup("runner_day2", "day 2 of the nightly batch")
    try:
        r2 = run_daily_batch(
            spark, inbox_dir=str(inbox), warehouse_dir=wh, dims=dims,
            clock=CLOCK, archive=False,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert r2.transactions_appended == 2
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("runner_day2"))
    assert 13 <= n_jobs <= 20


def test_overlapping_blacklist_files_count_new_rows(spark, dims, tmp_path):
    """Two blacklist files in one run share a passport: only the truly new
    rows are appended, and the reported count is what was appended."""
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    wh = str(tmp_path / "wh")
    (inbox / "passport_blacklist_01032024.xlsx.csv").write_text(
        "date;passport\n2024-02-01;P111\n2024-02-02;P999\n"
    )
    (inbox / "passport_blacklist_02032024.xlsx.csv").write_text(
        "date;passport\n2024-02-02;P999\n2024-02-03;P222\n"
    )
    r = run_daily_batch(
        spark, inbox_dir=str(inbox), warehouse_dir=wh, dims=dims,
        clock=CLOCK, archive=False,
    )
    bl = TableCatalog(spark, wh).read("fact_blacklist")
    assert r.blacklist_files == 2
    assert r.blacklist_appended == 3
    assert bl.count() == 3
    assert sorted(x["passport_num"] for x in bl.collect()) == ["P111", "P222", "P999"]


def test_all_rejected_file_counts_rejects_under_sort_merge_dedup(spark, dims, tmp_path):
    """A file whose rows are all malformed leaves the dedup anti-join an
    empty clean side; under a sort-merge anti-join AQE then swaps the join
    for an empty relation and the counts observed below it never arrive.
    The rejects must still be counted and quarantined."""
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    wh = str(tmp_path / "wh")
    _write_day1(inbox)
    run_daily_batch(
        spark, inbox_dir=str(inbox), warehouse_dir=wh, dims=dims,
        clock=dt.datetime(2024, 3, 2, 1, 17), archive=False,
    )
    (inbox / "transactions_02032024.txt").write_text(
        TX_HEADER
        + "T010;BROKEN;10,00;CARD1               ;PAYMENT;SUCCESS;A1\n"
        + "T011;2024-03-02 09:00:00;1,2,3;CARD1               ;PAYMENT;SUCCESS;A1\n"
    )
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        r2 = run_daily_batch(
            spark, inbox_dir=str(inbox), warehouse_dir=wh, dims=dims,
            clock=CLOCK, archive=False,
        )
    finally:
        spark.conf.set(key, old)
    assert r2.transactions_appended == 0
    assert r2.transactions_quarantined == 2
    cat = TableCatalog(spark, wh)
    assert cat.read("quarantine_transactions").count() == 3   # 1 from day 1
    assert cat.read("fact_transactions").count() == 2


def test_failed_load_keeps_other_loads_and_rerun_recovers(spark, dims, tmp_path):
    """The loads run side by side. Night 2's terminals file lacks a
    column: the run raises, but the transactions and blacklist files of
    that night are committed (rows and watermarks), while the terminals
    dimension and the report are untouched. With the file replaced, a
    rerun ends where an uninterrupted two-night run ends."""
    bad_terminals = (
        "terminal_id,terminal_type,terminal_address\nA1,POS,addr1\nA2,POS,addr2\n"
    )
    day2_blacklist = "date;passport\n2024-03-01;P222\n"
    night1 = dt.datetime(2024, 3, 2, 1, 17)

    def night(inbox, wh, clock):
        return run_daily_batch(
            spark, inbox_dir=str(inbox), warehouse_dir=str(wh), dims=dims,
            clock=clock, archive=False,
        )

    def rows(cat, table):
        # by column name: rep_fraud's first file and its later appends
        # store the columns in different orders, and a read takes the
        # order of whichever file it samples
        df = cat.read(table)
        return sorted(map(tuple, df.select(*sorted(df.columns)).collect()))

    inbox, wh = tmp_path / "inbox", tmp_path / "wh"
    inbox.mkdir()
    _write_day1(inbox)
    night(inbox, wh, night1)
    cat = TableCatalog(spark, str(wh))
    terminals_before = rows(cat, "dim_terminals_hist")
    report_before = rows(cat, "rep_fraud")

    _write_day2(inbox)
    (inbox / "passport_blacklist_02032024.xlsx.csv").write_text(day2_blacklist)
    good_terminals = (inbox / "terminals_02032024.csv").read_text()
    (inbox / "terminals_02032024.csv").write_text(bad_terminals)
    with pytest.raises(AnalysisException):
        night(inbox, wh, CLOCK)

    assert cat.read("fact_transactions").count() == 4
    assert "P222" in {r["passport_num"] for r in cat.read("fact_blacklist").collect()}
    marks = json.loads((wh / "watermarks.json").read_text())
    assert marks["transactions"] == "2024-03-02"
    assert marks["blacklist"] == "2024-03-02"
    assert marks["terminals"] == "2024-03-01"
    assert rows(cat, "dim_terminals_hist") == terminals_before
    assert rows(cat, "rep_fraud") == report_before

    (inbox / "terminals_02032024.csv").write_text(good_terminals)
    r = night(inbox, wh, CLOCK)
    assert r.transactions_files == 0 and r.blacklist_files == 0
    assert r.terminal_snapshots == 1

    ref_inbox, ref_wh = tmp_path / "ref_inbox", tmp_path / "ref_wh"
    ref_inbox.mkdir()
    _write_day1(ref_inbox)
    night(ref_inbox, ref_wh, night1)
    _write_day2(ref_inbox)
    (ref_inbox / "passport_blacklist_02032024.xlsx.csv").write_text(day2_blacklist)
    night(ref_inbox, ref_wh, CLOCK)
    ref = TableCatalog(spark, str(ref_wh))
    assert rows(cat, "rep_fraud") == rows(ref, "rep_fraud")
    assert r.report_rows == len(rows(ref, "rep_fraud")) - len(report_before)
    assert rows(cat, "dim_terminals_hist") == rows(ref, "dim_terminals_hist")


def test_dq_gate_reports_planted_violations_without_reading_history(
    spark, dims, tmp_path, monkeypatch
):
    """A night whose file plants one violation of each kind reports them,
    the same counts as the expectations checked over the whole fact, and
    its rows land in ``dq_report``; a second night reports the same
    again. The gate appends tonight's rows but never reads ``dq_report``
    back."""
    from etl_process_spark.pipeline import expectations as ex

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    wh = str(tmp_path / "wh")
    _write_day1(inbox)
    (inbox / "transactions_01032024.txt").write_text(
        TX_HEADER
        + "T001;2024-03-01 10:00:00;10,00;CARD1               ;PAYMENT;SUCCESS;A1\n"
        + "T001;2024-03-01 10:05:00;11,00;CARD1               ;PAYMENT;SUCCESS;A1\n"
        + "T002;2024-03-01 11:00:00;-5,00;CARD2               ;PAYMENT;SUCCESS;A1\n"
        + "T003;;10,00;CARD2               ;PAYMENT;SUCCESS;A1\n"
        + ";2024-03-01 12:00:00;10,00;CARD2               ;PAYMENT;SUCCESS;A1\n"
    )
    reads = []
    read = TableCatalog.read

    def recording_read(self, name):
        reads.append(name)
        return read(self, name)

    monkeypatch.setattr(TableCatalog, "read", recording_read)
    planted = {
        "not_null_trans_id": 1,
        "not_null_trans_date": 1,
        "non_negative_amount": 1,
        "unique_trans_id": 2,
    }
    cat = TableCatalog(spark, wh)
    for night, clock in enumerate((CLOCK, CLOCK + dt.timedelta(days=1))):
        r = run_daily_batch(
            spark, inbox_dir=str(inbox), warehouse_dir=wh, dims=dims,
            clock=clock, archive=False,
        )
        assert r.transactions_appended == (5 if night == 0 else 0)
        assert r.details["dq_violations"] == planted
    assert "dq_report" not in reads

    full = ex.check_expectations(read(cat, "fact_transactions"), [
        ex.not_null("trans_id"),
        ex.not_null("trans_date"),
        ex.expect_expr("non_negative_amount", "amt IS NULL OR amt >= 0"),
        ex.unique("trans_id"),
    ])
    assert {row["rule"]: row["n_violations"] for row in full.collect()} == planted
    stored = read(cat, "dq_report").collect()
    assert sorted((row["run_clock"], row["rule"], row["n_violations"]) for row in stored) == sorted(
        (str(clock), rule, n)
        for clock in (CLOCK, CLOCK + dt.timedelta(days=1)) for rule, n in planted.items()
    )
