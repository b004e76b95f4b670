"""The fraud report — the reference's one real analytical query.

``py_scripts/report.py:12-113`` is one multi-CTE SQL query, and so is this
module: each public function issues one ``spark.sql`` whose text mirrors
the reference's CTEs. Frames enter as DataFrame arguments and values
through ``args=`` parameter markers, never formatted into the text.

* ``enrich_transactions`` is the ``cl`` CTE (report.py:12-49): the fact
  and five left joins, the terminals one point-in-time.
* ``build_fraud_report`` is the ``lg`` CTE (report.py:50-62), 9 lags over
  one per-card window, then the four rules (report.py:63-113). They are
  evaluated together on one scan of ``lg``: each row emits one event per
  rule it fires. That fold is bag-equivalent to the reference's
  four-branch UNION ALL, which plans one copy of the join chain per
  branch.
* ``build_fraud_report_incremental`` derives the events after a
  watermark: one lag window over the rows of the cards that have a row
  past it, then the rows past it.

A plan built from SQL text is the plan Catalyst builds from a Column tree
(Armbrust et al., SIGMOD'15), assembled in a few py4j calls instead of a
few thousand. The rule predicates are defined once, as the SQL strings in
``RULES``; ``_rule1`` to ``_rule4`` are ``F.expr`` of the same strings.

Parity corners kept deliberately:
* terminals join is point-in-time with STRICT inequalities (report.py:40-41);
* cards/accounts/clients join the FULL history tables, not the current
  version — exactly as the reference does (report.py:42-47), duplicate
  versions and all;
* fio is Postgres ``concat``: a NULL part is '' and the spaces stay
  (report.py:23);
* blacklist default entry date 9999-12-31 via coalesce (report.py:29);
* the UNION ALL's bag semantics — one transaction can emit up to 4 rows;
* ``report_dt`` (the reference's ``now()``, report.py:76) is injectable.

Scale: dims broadcast (small by construction); the only shuffle in the whole
report is the per-card window, which partitions by card_num — high
cardinality, no skew (a card has few transactions), so it parallelizes
linearly with executors at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_process_spark.functions.scalar import INFINITY_DATE

# The cl CTE (report.py:12-49).
_CL = """
SELECT /*+ BROADCAST(d, c, acc, cli, bl) */
  f.trans_id, f.trans_date, f.card_num, f.oper_type, f.amt, f.oper_result,
  f.terminal, acc.valid_to,
  concat(coalesce(cli.last_name, ''), ' ', coalesce(cli.first_name, ''), ' ',
         coalesce(cli.patronymic, '')) AS fio,
  cli.passport_num, cli.passport_valid_to, cli.phone,
  bl.passport_num AS pass_bl,
  coalesce(bl.entry_dt, to_date(:infinity_date)) AS entry_dt,
  d.terminal_city
FROM {fact} f
LEFT JOIN {terminals} d
  ON f.terminal = d.terminal_id
 AND f.trans_date > d.effective_from AND f.trans_date < d.effective_to
 AND d.deleted_flg = 'N'
LEFT JOIN {cards} c ON trim(f.card_num) = trim(c.card_num)
LEFT JOIN {accounts} acc ON c.account_num = acc.account_num
LEFT JOIN {clients} cli ON acc.client = cli.client_id
LEFT JOIN {blacklist} bl ON trim(cli.passport_num) = trim(bl.passport_num)
"""

# The lg CTE's select list (report.py:50-62): the cl columns the rules and
# the events read, and 9 lags over the window ``w``.
_LG = """
  card_num, trans_date, terminal_city, fio, passport_num, phone, trans_id,
  oper_type, oper_result, amt, passport_valid_to, pass_bl, entry_dt, valid_to,
  lag(terminal_city) OVER w AS lag_city,
  CAST(trans_date AS BIGINT) - CAST(lag(trans_date) OVER w AS BIGINT) AS lag_pr_sec,
  lag(oper_result, 1) OVER w AS res_1,
  lag(oper_result, 2) OVER w AS res_2,
  lag(oper_result, 3) OVER w AS res_3,
  lag(amt, 1) OVER w AS amt_1,
  lag(amt, 2) OVER w AS amt_2,
  lag(amt, 3) OVER w AS amt_3,
  lag(trans_date, 3) OVER w AS dt
"""
_WINDOW = " WINDOW w AS (PARTITION BY card_num ORDER BY trans_date)"

RULES = (
    # Rule 1 (report.py:78): expired passport, or blacklisted at event time.
    "passport_valid_to < trans_date OR (pass_bl IS NOT NULL AND entry_dt <= trans_date)",
    # Rule 2 (report.py:88): transaction on/after account expiry.
    "trans_date >= valid_to",
    # Rule 3 (report.py:98-99): city changed within one hour.
    "terminal_city != lag_city AND lag_pr_sec <= 3600",
    # Rule 4 (report.py:109-113): SUCCESS after 3 REJECTs, strictly
    # decreasing amounts, all four inside 20 minutes, PAYMENT/WITHDRAW only.
    "oper_result = 'SUCCESS'"
    " AND res_1 = 'REJECT' AND res_2 = 'REJECT' AND res_3 = 'REJECT'"
    " AND amt < amt_1 AND amt_1 < amt_2 AND amt_2 < amt_3"
    " AND CAST(trans_date AS BIGINT) - CAST(dt AS BIGINT) <= 1200"
    " AND oper_type IN ('PAYMENT', 'WITHDRAW')",
)

# One event row per (transaction, fired rule): the ids of the rules a row
# fires are collected into an array (NULL and false predicates drop out)
# and exploded, so a transaction that fires k rules yields k rows — the
# UNION ALL's bag, one scan.
_FIRED = (
    " LATERAL VIEW explode(array_compact(array("
    + ", ".join(f"CASE WHEN ({rule}) THEN {i} END" for i, rule in enumerate(RULES, 1))
    + "))) fired AS event_type"
)


def _events(include_trans_id: bool) -> str:
    # trans_id is the NULL-free, collision-free idempotency key of the
    # runner's append dedup: passport arrives through a LEFT-join chain
    # and can be NULL (never matched by an anti-join), and (event_dt,
    # passport, event_type) collapses distinct same-second events.
    return (
        "SELECT trans_date AS event_dt, passport_num AS passport, fio, phone,"
        " event_type, to_timestamp(:report_dt) AS report_dt"
        + (", trans_id" if include_trans_id else "")
        + " FROM lg" + _FIRED
    )


# Rule predicates as Columns, built lazily (Column construction needs an
# active session in classic PySpark, so no module-level Column constants).
def _rule1() -> F.Column:
    return F.expr(RULES[0])


def _rule2() -> F.Column:
    return F.expr(RULES[1])


def _rule3() -> F.Column:
    return F.expr(RULES[2])


def _rule4() -> F.Column:
    return F.expr(RULES[3])


def enrich_transactions(
    transactions: DataFrame,
    terminals_hist: DataFrame,
    cards_hist: DataFrame,
    accounts_hist: DataFrame,
    clients_hist: DataFrame,
    blacklist: DataFrame,
) -> DataFrame:
    """The ``cl`` CTE (report.py:12-49): fact -> 5 left joins."""
    return transactions.sparkSession.sql(
        _CL, args={"infinity_date": INFINITY_DATE},
        fact=transactions, terminals=terminals_hist, cards=cards_hist,
        accounts=accounts_hist, clients=clients_hist, blacklist=blacklist,
    )


def with_lags(cl: DataFrame) -> DataFrame:
    """The ``lg`` CTE (report.py:50-62): 9 lag columns over one window spec,
    plus the ``cl`` columns the rules read, so all four rules run on it."""
    return cl.sparkSession.sql("SELECT" + _LG + "FROM {cl}" + _WINDOW, cl=cl)


def build_fraud_report(
    cl: DataFrame, report_dt, include_trans_id: bool = False
) -> DataFrame:
    """Rules 1–4 (report.py:63-113), one row per fired rule.
    ``report_dt`` = pinned now().

    ``include_trans_id=True`` appends the source transaction id — the
    reference's rep_fraud schema (main.ddl:124-131) lacks it, but the
    runner's idempotent append needs a NULL-free dedup key; the default
    keeps the reference-parity shape.
    """
    return cl.sparkSession.sql(
        "WITH lg AS (SELECT" + _LG + "FROM {cl}" + _WINDOW + ") "
        + _events(include_trans_id),
        args={"report_dt": str(report_dt)}, cl=cl,
    )


def build_fraud_report_incremental(
    cl: DataFrame, watermark_ts, report_dt, include_trans_id: bool = False
) -> DataFrame:
    """Incremental maintenance of the fraud report: emit events ONLY for
    transactions after ``watermark_ts``.

    The reference recomputes the report over whatever was loaded that day
    with no formal contract; this operator gives the incremental run a
    provable one. A card is touched when it has a row past the
    watermark; the touched set reads only the fact's ``card_num`` and
    ``trans_date`` (Catalyst drops the left joins under the DISTINCT).
    One lag window runs over every row of the touched cards, in the same
    per-card order as the full report, and the rows past the watermark
    are kept. Each lag looks back at most 3 rows of the same card, so
    every kept row's lags, and therefore its events, equal the full
    report's. Untouched cards are never windowed; a touched card's
    history is (time-partitioned facts prune it only if paired with a
    max-inactivity policy).

    Equivalence ``incremental ≡ full ⨡ new`` is asserted by
    ``tests/test_fraud.py`` differentials.
    """
    return cl.sparkSession.sql(
        "WITH touched AS (SELECT DISTINCT card_num FROM {cl}"
        " WHERE trans_date > to_timestamp(:wm)),"
        " lg AS (SELECT /*+ BROADCAST(t) */" + _LG
        + "FROM {cl} h LEFT SEMI JOIN touched t ON h.card_num <=> t.card_num"
        + _WINDOW + ") "
        + _events(include_trans_id)
        + " WHERE trans_date > to_timestamp(:wm)",
        args={"wm": str(watermark_ts), "report_dt": str(report_dt)}, cl=cl,
    )
