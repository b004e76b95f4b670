"""Golden end-to-end test of the fraud report on a crafted fixture.

Each rule fires on exactly one planted transaction; near-miss rows
(FIXTURES.md §7) must NOT fire: boundary-equal as-of timestamps, city change
at exactly >1h, only 2 REJECTs, non-decreasing amounts."""

import datetime as dt
from collections import Counter
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from etl_process_spark.pipeline.fraud import build_fraud_report, enrich_transactions

INF_TS = dt.datetime(9999, 12, 31)
INF_D = dt.date(9999, 12, 31)
EF = dt.datetime(2020, 1, 1)
REPORT_DT = dt.datetime(2021, 1, 2, 3, 0, 0)

D = dt.datetime  # shorthand


@pytest.fixture(scope="module")
def report(spark):
    def ts(h, m=0, s=0):
        return D(2021, 1, 1, h, m, s)

    tx_rows = [
        # (trans_id, trans_date, card_num, oper_type, amt, oper_result, terminal)
        ("t1", ts(10), "C1 ", "PAYMENT", Decimal("100.00"), "SUCCESS", "T1"),   # rule1 (expired passport)
        ("t2", ts(11), "C2", "PAYMENT", Decimal("100.00"), "SUCCESS", "T1"),    # rule1 (blacklisted)
        ("t3", ts(12), "C3", "PAYMENT", Decimal("100.00"), "SUCCESS", "T1"),    # rule2 (expired account)
        # rule 3: same card, two cities within 1h
        ("t4", ts(13, 0), "C4", "PAYMENT", Decimal("10.00"), "SUCCESS", "T1"),
        ("t5", ts(13, 30), "C4", "PAYMENT", Decimal("10.00"), "SUCCESS", "T2"),  # fires
        # near-miss: exactly 1h+1s gap
        ("t6", ts(15, 0, 0), "C5", "PAYMENT", Decimal("10.00"), "SUCCESS", "T1"),
        ("t7", ts(16, 0, 1), "C5", "PAYMENT", Decimal("10.00"), "SUCCESS", "T2"),
        # rule 4: 3 REJECTs decreasing then SUCCESS within 20 min
        ("t8", ts(17, 0), "C6", "WITHDRAW", Decimal("400.00"), "REJECT", "T1"),
        ("t9", ts(17, 5), "C6", "WITHDRAW", Decimal("300.00"), "REJECT", "T1"),
        ("t10", ts(17, 10), "C6", "WITHDRAW", Decimal("200.00"), "REJECT", "T1"),
        ("t11", ts(17, 15), "C6", "WITHDRAW", Decimal("100.00"), "SUCCESS", "T1"),  # fires
        # near-miss: non-decreasing amounts
        ("t12", ts(18, 0), "C7", "WITHDRAW", Decimal("100.00"), "REJECT", "T1"),
        ("t13", ts(18, 5), "C7", "WITHDRAW", Decimal("300.00"), "REJECT", "T1"),
        ("t14", ts(18, 10), "C7", "WITHDRAW", Decimal("200.00"), "REJECT", "T1"),
        ("t15", ts(18, 15), "C7", "WITHDRAW", Decimal("100.00"), "SUCCESS", "T1"),
        # as-of boundary: trans_date == effective_from matches NO terminal
        ("t16", EF, "C8", "PAYMENT", Decimal("10.00"), "SUCCESS", "T2"),
    ]
    tx = spark.createDataFrame(
        tx_rows,
        "trans_id string, trans_date timestamp, card_num string, oper_type string, "
        "amt decimal(15,2), oper_result string, terminal string",
    )
    terminals = spark.createDataFrame(
        [("T1", "POS", "Moscow", "a1", EF, INF_TS, "N"),
         ("T2", "POS", "Kazan", "a2", EF, INF_TS, "N")],
        "terminal_id string, terminal_type string, terminal_city string, "
        "terminal_address string, effective_from timestamp, effective_to timestamp, "
        "deleted_flg string",
    )
    cards = spark.createDataFrame(
        [(f"C{i}", f"A{i}", EF, INF_TS, "N") for i in range(1, 9)],
        "card_num string, account_num string, effective_from timestamp, "
        "effective_to timestamp, deleted_flg string",
    )
    accounts = spark.createDataFrame(
        [(f"A{i}", dt.date(2020, 6, 1) if i == 3 else INF_D, f"CL{i}", EF, INF_TS, "N")
         for i in range(1, 9)],
        "account_num string, valid_to date, client string, effective_from timestamp, "
        "effective_to timestamp, deleted_flg string",
    )
    clients = spark.createDataFrame(
        [(f"CL{i}",
          "Ivanov", "Ivan", None if i == 1 else "Ivanovich",
          f"P{i}" + " " * i,
          dt.date(2020, 12, 1) if i == 1 else INF_D,
          f"+7000000000{i}", EF, INF_TS, "N")
         for i in range(1, 9)],
        "client_id string, last_name string, first_name string, patronymic string, "
        "passport_num string, passport_valid_to date, phone string, "
        "effective_from timestamp, effective_to timestamp, deleted_flg string",
    )
    blacklist = spark.createDataFrame(
        [(dt.date(2020, 12, 31), "P2")],
        "entry_dt date, passport_num string",
    )
    cl = enrich_transactions(tx, terminals, cards, accounts, clients, blacklist)
    return build_fraud_report(cl, REPORT_DT).cache()


def test_each_rule_fires_once(report):
    by_type = {r["event_type"]: r for r in report.collect()}
    assert sorted(t for t in by_type) == [1, 2, 3, 4]
    assert report.count() == 5  # rule 1 fires twice (t1 expired + t2 blacklist)


def test_rule1_rows(report):
    rows = report.filter(F.col("event_type") == 1).orderBy("event_dt").collect()
    assert [r["passport"].strip() for r in rows] == ["P1", "P2"]
    # NULL patronymic: exact Postgres concat parity — the literal space
    # arguments survive, so the reference's 'Ivanov Ivan ' (trailing
    # space, report.py:23) is reproduced byte-for-byte
    assert rows[0]["fio"] == "Ivanov Ivan "


def test_rule3_near_miss_excluded(report):
    rows = report.filter(F.col("event_type") == 3).collect()
    assert len(rows) == 1
    assert rows[0]["event_dt"] == D(2021, 1, 1, 13, 30)


def test_rule4_near_miss_excluded(report):
    rows = report.filter(F.col("event_type") == 4).collect()
    assert len(rows) == 1
    assert rows[0]["event_dt"] == D(2021, 1, 1, 17, 15)


def test_asof_boundary_strict(report):
    # t16 at exactly effective_from matched no terminal version; with no
    # city it cannot fire rule 3 — and it must not crash the pipeline.
    assert report.filter(F.col("event_dt") == EF).count() == 0


CL_SCHEMA = (
    "trans_id string, trans_date timestamp, card_num string, oper_type string, "
    "amt decimal(15,2), oper_result string, terminal string, valid_to date, "
    "fio string, passport_num string, passport_valid_to date, phone string, "
    "pass_bl string, entry_dt date, terminal_city string"
)


@pytest.fixture(scope="module")
def synthetic_cl(spark):
    """A few hundred pre-enriched rows (the cl CTE's schema) with every
    rule firing somewhere, deterministic via a fixed seed and unique
    per-card timestamps."""
    import random

    rng = random.Random(42)
    rows = []
    for card in range(30):
        t = D(2021, 3, 1, 0, 0, 0)
        expired_passport = card % 7 == 0
        expired_account = card % 11 == 3
        blacklisted = card % 13 == 5
        for i in range(40):
            t += dt.timedelta(minutes=rng.randint(3, 90), seconds=rng.randint(1, 59))
            rows.append((
                f"tx{card}_{i}", t, f"CARD{card}",
                rng.choice(["PAYMENT", "WITHDRAW", "DEPOSIT"]),
                Decimal(rng.randint(1, 500)),
                rng.choice(["SUCCESS", "REJECT", "REJECT"]),
                "T1",
                dt.date(2021, 2, 1) if expired_account else INF_D,
                f"Person {card}", f"P{card}",
                dt.date(2021, 1, 15) if expired_passport else INF_D,
                f"+7{card:010d}",
                f"P{card}" if blacklisted else None,
                dt.date(2021, 1, 1) if blacklisted else INF_D,
                rng.choice(["Moscow", "Kazan", "Tver"]),
            ))
    return spark.createDataFrame(rows, CL_SCHEMA).cache()


def _events(df):
    return sorted(
        (r["event_dt"], r["passport"], r["event_type"]) for r in df.collect()
    )


def _deep_history_card(spark, wm):
    """One card with 5 rows before ``wm``, one of them a late arrival
    slotted between two older rows, and 2 rows after it: the first after
    ``wm`` fires rule 4 only through the 3 rows before it (the late one
    included) and rule 3 from the late row's city; the second's lags still
    reach back across ``wm``."""
    def row(tid, t, amt, result, city):
        return (tid, t, "CARD_DEEP", "WITHDRAW", Decimal(amt), result, "T1",
                INF_D, "Person D", "PD", INF_D, "+70000000099", None, INF_D, city)

    def before(minutes):
        return wm - dt.timedelta(minutes=minutes)

    return spark.createDataFrame([
        row("deep0", before(300), 900, "SUCCESS", "Tver"),
        row("deep1", before(240), 800, "SUCCESS", "Tver"),
        row("deep2", before(12), 400, "REJECT", "Tver"),
        row("deep_late", before(8), 300, "REJECT", "Kazan"),
        row("deep3", before(4), 200, "REJECT", "Kazan"),
        row("deep4", wm + dt.timedelta(minutes=5), 100, "SUCCESS", "Tver"),
        row("deep5", wm + dt.timedelta(minutes=6), 50, "SUCCESS", "Tver"),
    ], CL_SCHEMA)


def test_incremental_report_matches_full_restricted_to_new(spark, synthetic_cl):
    from etl_process_spark.pipeline.fraud import build_fraud_report_incremental

    wm = D(2021, 3, 1, 18, 0, 0)
    cl = synthetic_cl.unionByName(_deep_history_card(spark, wm))
    full_new = build_fraud_report(cl, REPORT_DT, include_trans_id=True).filter(
        F.col("event_dt") > F.lit(wm)
    )
    inc = build_fraud_report_incremental(cl, wm, REPORT_DT, include_trans_id=True)
    assert _bag(inc) == _bag(full_new)
    assert len(_events(inc)) > 0  # the comparison is not vacuous
    deep = sorted((r["trans_id"], r["event_type"]) for r in inc.collect()
                  if r["trans_id"].startswith("deep"))
    assert deep == [("deep4", 3), ("deep4", 4)]


def test_incremental_report_plans_one_window(spark):
    """The incremental report windows the touched cards once: one Window
    in the physical plan (a tails window plus the lag window would be
    two), and the touched-card set reads the fact alone, with no join of
    the enrichment chain."""
    from etl_process_spark.pipeline.fraud import build_fraud_report_incremental
    from etl_process_spark.plans.audit import explain_str

    fact = spark.createDataFrame(
        [("t1", D(2021, 1, 1, 10), "C1", "PAYMENT", Decimal("1.00"), "SUCCESS", "T1")],
        "trans_id string, trans_date timestamp, card_num string, oper_type string, "
        "amt decimal(15,2), oper_result string, terminal string",
    )
    terminals = spark.createDataFrame(
        [("T1", "POS", "Moscow", "a1", EF, INF_TS, "N")],
        "terminal_id string, terminal_type string, terminal_city string, "
        "terminal_address string, effective_from timestamp, effective_to timestamp, "
        "deleted_flg string",
    )
    cards = spark.createDataFrame([("C1", "A1")], "card_num string, account_num string")
    accounts = spark.createDataFrame(
        [("A1", INF_D, "CL1")], "account_num string, valid_to date, client string")
    clients = spark.createDataFrame(
        [("CL1", "Ivanov", "Ivan", None, "P1", INF_D, "+7")],
        "client_id string, last_name string, first_name string, patronymic string, "
        "passport_num string, passport_valid_to date, phone string",
    )
    blacklist = spark.createDataFrame([], "entry_dt date, passport_num string")
    cl = enrich_transactions(fact, terminals, cards, accounts, clients, blacklist)
    inc = build_fraud_report_incremental(cl, EF, REPORT_DT, include_trans_id=True)
    plan = explain_str(inc, "simple")
    assert plan.count("Window [") == 1, plan
    # 5 broadcast joins of the enrichment plus the semi join on touched cards
    assert plan.count("BroadcastHashJoin") == 6, plan


def test_incremental_report_composes_across_two_advances(synthetic_cl):
    """Running the increment at wm0 (on data up to wm1) and then at wm1
    (on everything) must together equal the full report's events after
    wm0 — the watermark-advance protocol loses and duplicates nothing."""
    from etl_process_spark.pipeline.fraud import build_fraud_report_incremental

    wm0 = D(2021, 3, 1, 12, 0, 0)
    wm1 = D(2021, 3, 2, 0, 0, 0)
    upto_wm1 = synthetic_cl.filter(F.col("trans_date") <= F.lit(wm1))
    step1 = build_fraud_report_incremental(upto_wm1, wm0, REPORT_DT)
    step2 = build_fraud_report_incremental(synthetic_cl, wm1, REPORT_DT)
    full = build_fraud_report(synthetic_cl, REPORT_DT).filter(
        F.col("event_dt") > F.lit(wm0)
    )
    assert sorted(_events(step1) + _events(step2)) == _events(full)
    assert len(_events(step1)) > 0 and len(_events(step2)) > 0


def test_transaction_firing_two_rules_yields_two_rows(spark):
    """Bag semantics: an expired passport plus a city hop within the hour
    is two events for the one transaction, as in the UNION ALL."""
    def row(tid, t, city):
        return (tid, t, "CARD1", "PAYMENT", Decimal("10.00"), "SUCCESS", "T1",
                INF_D, "Person 1", "P1", dt.date(2020, 1, 1), "+70000000001",
                None, INF_D, city)

    cl = spark.createDataFrame(
        [row("a", D(2021, 1, 1, 10, 0), "Moscow"),
         row("b", D(2021, 1, 1, 10, 30), "Kazan")],
        CL_SCHEMA,
    )
    rows = build_fraud_report(cl, REPORT_DT, include_trans_id=True).collect()
    # "a" has the expired passport too, but no earlier row to hop from
    assert sorted((r["trans_id"], r["event_type"]) for r in rows) == [
        ("a", 1), ("b", 1), ("b", 3)
    ]


def _union_all_report(cl, lg, report_dt):
    """The four-branch UNION ALL the rule fold replaced (report.py:63-113):
    rules 1-2 on the enriched rows, rules 3-4 on the lagged ones."""
    from etl_process_spark.pipeline.fraud import _rule1, _rule2, _rule3, _rule4

    def event(df, event_type):
        return df.select(
            F.col("trans_date").alias("event_dt"),
            F.col("passport_num").alias("passport"),
            "fio", "phone",
            F.lit(event_type).alias("event_type"),
            F.to_timestamp(F.lit(str(report_dt))).alias("report_dt"),
            "trans_id",
        )

    return (
        event(cl.filter(_rule1()), 1)
        .unionByName(event(cl.filter(_rule2()), 2))
        .unionByName(event(lg.filter(_rule3()), 3))
        .unionByName(event(lg.filter(_rule4()), 4))
    )


def _bag(df):
    cols = ["event_dt", "passport", "fio", "phone", "event_type", "report_dt", "trans_id"]
    return Counter(tuple(r) for r in df.select(*cols).collect())


def test_rule_fold_matches_union_all_oracle(spark, synthetic_cl):
    """Full and incremental reports equal the UNION ALL, row for row and
    with multiplicity."""
    from etl_process_spark.pipeline.fraud import (
        build_fraud_report_incremental,
        with_lags,
    )

    # the random fixture never lines up rule 4; plant one run after the
    # watermark below: 3 decreasing REJECTs, then a SUCCESS, in 15 minutes
    rule4 = spark.createDataFrame(
        [(f"r4_{i}", D(2021, 3, 1, 20, 5 * i), "CARD_R4", "WITHDRAW",
          Decimal(400 - 100 * i), "SUCCESS" if i == 3 else "REJECT", "T1",
          INF_D, "Person R4", "PR4", INF_D, "+70000000000", None, INF_D, "Tver")
         for i in range(4)],
        CL_SCHEMA,
    )
    cl = synthetic_cl.unionByName(rule4)
    lg = with_lags(cl)
    full = _bag(build_fraud_report(cl, REPORT_DT, include_trans_id=True))
    assert full == _bag(_union_all_report(cl, lg, REPORT_DT))
    assert {k[4] for k in full} == {1, 2, 3, 4}

    wm = D(2021, 3, 1, 18, 0, 0)
    after = F.col("trans_date") > F.lit(wm)
    inc = _bag(build_fraud_report_incremental(
        cl, wm, REPORT_DT, include_trans_id=True
    ))
    assert inc == _bag(_union_all_report(cl.filter(after), lg.filter(after), REPORT_DT))
    assert {k[4] for k in inc} == {1, 2, 3, 4}
