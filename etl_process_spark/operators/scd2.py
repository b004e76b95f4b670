"""SCD Type 2 merge — the reference's one genuinely stateful operator.

Re-expresses the 6-step dance of reference ``py_scripts/cards.py:86-176``
(and its siblings ``accounts.py``, ``clients.py``, ``terminals.py``) as
ONE SQL statement:

    open    = versions with effective_to = infinity
    result  = inline(CASE … END) over  batch FULL OUTER JOIN open ON key
              UNION ALL  closed history

Spark has no in-place UPDATE, so instead of the reference's correlated
``UPDATE … FROM`` (cards.py:125-141) the merge *rewrites* the dimension.
Each row of the one join emits its 1-2 output rows (a new key's first
version; a changed key's new version and closed predecessor; a deleted
key's tombstone and closed predecessor; or the open version untouched),
so the change-set is computed once (the reference computes it twice — see
SURVEY §4.2) and the dimension's open versions are scanned once.

The merge decides "new key" against the open versions alone. That rests on
the SCD2 invariant ``tests/test_scd2_properties.py`` asserts: every key
that ever existed has exactly one open version, tombstones included.

Scale notes (100 TB design):
* Dimensions are small relative to facts; the rewrite is a dim-sized job.
  A full outer join cannot broadcast, so it plans as a sort-merge join on
  the business key: one shuffle of the batch and one of the open
  versions, then the write. At a 1000-executor cluster the same plan
  holds.
* For a *huge* dimension, partitioning the dim table by bucket(key) lets
  the join co-locate. Delta/Iceberg MERGE is the transactional variant;
  plain table rewrite is dependency-free and parity-sufficient.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_process_spark.functions.scalar import INFINITY_TS, minus_seconds

_META_COLS = ("effective_from", "effective_to", "deleted_flg")


def _infinity() -> Column:
    return F.to_timestamp(F.lit(INFINITY_TS))


def scd2_current(dim: DataFrame, include_deleted: bool = False) -> DataFrame:
    """Open (current) versions: ``effective_to = '9999-12-31'``.

    Reference predicate P4 (py_scripts/terminals.py:127, cards.py:121).
    """
    cur = dim.filter(F.col("effective_to") == _infinity())
    if not include_deleted:
        cur = cur.filter(F.col("deleted_flg") == "N")
    return cur


def scd2_init(batch: DataFrame, key: str, tracked: Sequence[str],
              effective_from: Column) -> DataFrame:
    """Bootstrap an empty dimension from a first batch."""
    return batch.select(
        F.col(key),
        *[F.col(c) for c in tracked],
        effective_from.cast("timestamp").alias("effective_from"),
        _infinity().alias("effective_to"),
        F.lit("N").alias("deleted_flg"),
    )


def _ident(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def scd2_merge(
    dim: DataFrame,
    batch: DataFrame,
    key: str,
    tracked: Sequence[str],
    *,
    new_effective_from: Column,
    changed_effective_from: Column,
    source_keys: DataFrame | None = None,
    clock: dt.datetime | str | None = None,
) -> DataFrame:
    """Merge a batch into an SCD2 dimension; returns the rewritten dimension.

    Parameters
    ----------
    dim : history table with columns ``key, *tracked, effective_from,
        effective_to, deleted_flg`` (reference main.ddl:83-122).
    batch : staged delta (incremental mode, cards.py:50-56) or full snapshot
        (terminals.py per-file loop).
    new_effective_from / changed_effective_from : Column over ``batch``
        giving the version-open timestamp for brand-new keys
        (``create_dt``, cards.py:95) vs changed keys (``update_dt``,
        cards.py:115; the file date for snapshots, terminals.py:97).
    source_keys : full key snapshot for delete detection (cards.py:74-82);
        for full-snapshot sources pass the batch itself (terminals.py:76-78),
        which needs no join of its own. ``None`` disables delete detection.
    clock : injectable "now" for tombstones (cards.py:154 uses ``now()``;
        pinned for deterministic tests — SURVEY §4.2).

    One statement: the batch full-outer-joins the open versions on the
    key, each joined row emits its 1-2 output rows through
    ``inline(CASE …)``, and the closed history passes through with
    ``UNION ALL``. A row of the join is

    * a new key (no open version): its first version;
    * changed (a tracked column differs null-safely, or the open version
      is a tombstone, which the batch resurrects): the new version, and
      the open one closed 1 s before it opens;
    * deleted (an open live version whose key ``source_keys`` lacks): a
      tombstone opening at ``clock``, and the open version closed 1 s
      before. A key the batch changes is not also tombstoned;
    * otherwise the open version as it is.

    The frames are resolved as temp views of ``dim``'s session, so they
    must all belong to that session.

    "New key" is decided against the open versions only. That relies on
    the SCD2 invariant ``tests/test_scd2_properties.py`` asserts: every
    key that ever existed has exactly one open version, tombstones
    included, so a key with history always finds its open version.
    """
    out = [key, *tracked, *_META_COLS]
    k = _ident(key)
    b = batch.select(
        F.col(key), *[F.col(c) for c in tracked],
        new_effective_from.cast("timestamp").alias("__new_from"),
        changed_effective_from.cast("timestamp").alias("__changed_from"),
        F.lit(True).alias("__in_batch"),
    )

    def row(side: str, effective_from: str, effective_to: str, deleted_flg: str) -> str:
        cols = [f"{side}.{_ident(c)}" for c in (key, *tracked)]
        cols += [effective_from, effective_to, deleted_flg]
        return "struct(" + ", ".join(
            f"{v} AS {_ident(n)}" for v, n in zip(cols, out)
        ) + ")"

    inf = "to_timestamp(:inf)"
    tomb = "coalesce(to_timestamp(:clock), current_timestamp())"
    new_key = row("b", "b.__new_from", inf, "'N'")
    new_version = row("b", "b.__changed_from", inf, "'N'")
    closed_old = row("c", "c.effective_from", "b.__changed_from - INTERVAL 1 SECOND",
                     "c.deleted_flg")
    tombstone = row("c", tomb, inf, "'Y'")
    closed_deleted = row("c", "c.effective_from", tomb + " - INTERVAL 1 SECOND",
                         "c.deleted_flg")
    untouched = row("c", "c.effective_from", "c.effective_to", "c.deleted_flg")
    changed = " OR ".join(
        [f"NOT (b.{_ident(c)} <=> c.{_ident(c)})" for c in tracked]
        + ["c.deleted_flg = 'Y'"]
    )
    frames = {"dim": dim, "batch": b}
    src_join = ""
    if source_keys is None:
        deleted = "false"
    elif source_keys is batch:
        deleted = "b.__in_batch IS NULL AND c.deleted_flg = 'N'"
    else:
        frames["source_keys"] = source_keys
        deleted = "s.__in_source IS NULL AND c.deleted_flg = 'N'"
        src_join = (
            f" LEFT JOIN (SELECT DISTINCT {k}, true AS __in_source"
            f" FROM {{source_keys}}) s ON c.{k} = s.{k}"
        )
    sql = (
        "SELECT inline(CASE"
        f" WHEN c.effective_to IS NULL THEN array({new_key})"
        f" WHEN b.__in_batch AND ({changed}) THEN array({new_version}, {closed_old})"
        f" WHEN {deleted} THEN array({tombstone}, {closed_deleted})"
        f" ELSE array({untouched}) END)"
        " FROM {batch} b"
        f" FULL OUTER JOIN (SELECT * FROM {{dim}} WHERE effective_to = {inf}) c"
        f" ON b.{k} = c.{k}{src_join}"
        f" UNION ALL SELECT {', '.join(map(_ident, out))} FROM {{dim}}"
        f" WHERE effective_to != {inf}"
    )
    return dim.sparkSession.sql(
        sql, args={"inf": INFINITY_TS, "clock": None if clock is None else str(clock)},
        **frames,
    )


def scd2_rebuild(
    dim: DataFrame,
    late_events: DataFrame,
    key: str,
    tracked: Sequence[str],
) -> DataFrame:
    """Retroactive repair: merge LATE-ARRIVING change events into an SCD2
    history, rebuilding each affected key's whole timeline.

    ``scd2_merge`` (like the reference's 6-step dance it re-expresses)
    assumes batches arrive in event-time order — a change older than the
    current open version would close that version with a negative
    interval. Real CDC feeds deliver late and out of order; this operator
    handles the general case:

    * a late event BETWEEN two existing versions splits that interval;
    * one BEFORE the first version becomes the new first version;
    * one AT an existing version's ``effective_from`` is a correction —
      the late event wins and replaces that version's attributes;
    * a late event whose attributes equal its (post-repair) predecessor
      is consolidated away — no redundant version, so replaying events
      that merely confirm current state is a no-op and the repair is
      idempotent.

    CAVEAT (dimension-only rebuild): consolidation destroys the record
    of a confirming observation, so if an EVEN EARLIER event later
    arrives in between, the dropped observation cannot be resurrected —
    e.g. observe v=A@t1, then v=A@t3 (consolidated away), then t2 with
    v=B arrives late: the t3 observation of A is gone and the timeline
    ends at B. Full out-of-order safety therefore needs the observation
    LOG, not just the dimension: use ``scd2_rebuild_log``, whose result
    is provably independent of arrival order (hypothesis-tested).

    How: each existing version is decomposed back into its defining event
    ``(key, attrs, effective_from, deleted_flg)`` (tombstones included —
    a ``deleted_flg`` column on ``late_events`` is honored, defaulting to
    'N'); late events are unioned in, same-timestamp conflicts resolved
    late-wins, consecutive duplicates dropped via null-safe lag compare,
    and ``effective_to`` is recomputed as ``lead(effective_from) - 1s``
    (the reference's close idiom, terminals.py:134) with infinity last.

    Scale: only keys PRESENT in the late batch are touched — untouched
    keys pass through without a window. The rebuild shuffles
    O(late keys × their version counts) rows, not the dimension; at
    100 TB dims with bucket(key) layout the semi/anti joins co-locate.
    """
    inf = _infinity()
    out_cols = [key, *tracked, *_META_COLS]

    affected = late_events.select(key).distinct()
    untouched = dim.join(affected, on=key, how="left_anti")

    existing_events = dim.join(F.broadcast(affected), on=key, how="left_semi").select(
        F.col(key), *[F.col(c) for c in tracked],
        F.col("effective_from"), F.col("deleted_flg"),
        F.lit(0).alias("__prio"),
    )
    late_flg = (
        F.col("deleted_flg") if "deleted_flg" in late_events.columns else F.lit("N")
    )
    late = late_events.select(
        F.col(key), *[F.col(c) for c in tracked],
        F.col("effective_from").cast("timestamp").alias("effective_from"),
        late_flg.alias("deleted_flg"),
        F.lit(1).alias("__prio"),
    )

    from pyspark.sql import Window

    events = existing_events.unionByName(late)
    # Same-timestamp conflict: the late event is a correction and wins.
    w_conflict = Window.partitionBy(key, "effective_from").orderBy(
        F.col("__prio").desc()
    )
    events = (
        events.withColumn("__rn", F.row_number().over(w_conflict))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__prio")
    )

    # Consolidate: drop an event identical (null-safely) to its predecessor.
    w_key = Window.partitionBy(key).orderBy("effective_from")
    same_as_prev = F.col("deleted_flg").eqNullSafe(F.lag("deleted_flg").over(w_key))
    for c in tracked:
        same_as_prev = same_as_prev & F.col(c).eqNullSafe(F.lag(c).over(w_key))
    events = events.withColumn("__dup", F.coalesce(same_as_prev, F.lit(False))).filter(
        ~F.col("__dup")
    ).drop("__dup")

    rebuilt = events.select(
        F.col(key), *[F.col(c) for c in tracked],
        F.col("effective_from"),
        F.coalesce(
            minus_seconds(F.lead("effective_from").over(w_key), 1), inf
        ).alias("effective_to"),
        F.col("deleted_flg"),
    )
    return untouched.select(out_cols).unionByName(rebuilt.select(out_cols))


def scd2_asof(dim: DataFrame, ts, include_deleted: bool = False) -> DataFrame:
    """Point-in-time reconstruction: the dimension exactly as it stood at
    ``ts`` — one row per key whose version interval covers the instant.

    Interval semantics follow the reference's close idiom (successor
    opens at T, predecessor closes at T - 1s, terminals.py:134): a
    version covers ``[effective_from, effective_to]`` INCLUSIVE, so
    ``ts`` equal to a version's open instant selects the new version and
    anything up to (and including) the close instant selects the old.
    Tombstoned keys are absent unless ``include_deleted``.

    This is the dimension-side twin of the fact-side as-of join (J4,
    operators/asof.py) and the query behind "rerun yesterday's report
    against yesterday's dimensions". A pure filter — pushed to the scan,
    no shuffle; on a dim partitioned by effective_from range the filter
    also prunes files.
    """
    at = F.to_timestamp(F.lit(str(ts)))
    snap = dim.filter(
        (F.col("effective_from") <= at) & (at <= F.col("effective_to"))
    )
    if not include_deleted:
        snap = snap.filter(F.col("deleted_flg") == "N")
    return snap


def scd2_rebuild_log(
    log: DataFrame,
    late_events: DataFrame,
    key: str,
    tracked: Sequence[str],
    dim: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Order-independent SCD2 from an OBSERVATION LOG.

    ``scd2_rebuild`` repairs a dimension in place but consolidates
    confirming observations away, so an even-earlier subsequent arrival
    can change what should have been kept (see its caveat). This variant
    keeps the raw observation log as the source of truth:

        log' = log ∪ late_events   (same (key, effective_from) → late wins)
        dim  = timeline(consolidate(log'))

    Log union over distinct timestamps is commutative and associative,
    so the DIMENSION derived after any arrival order of the same event
    batches is identical — the property hypothesis drives in
    ``tests/test_scd2_properties.py``. Consolidation (drop an event
    null-safely equal to its kept predecessor) happens only in the
    DERIVED dimension; the log keeps everything.

    Returns ``(dim, log')`` — persist both.

    Per-run cost: with the PRIOR DIMENSION passed as ``dim``, all three
    window passes (conflict, consolidation, timeline) run only over the
    late batch's keys — untouched log rows and untouched dim rows pass
    through unwindowed, so the nightly cost is the affected keys' log
    slices, like ``scd2_rebuild``. Without ``dim`` (first build, or an
    explicit full replay) the whole log is re-windowed and the full
    dimension derived. The log is the same idea as a CDC retention
    topic: storage-priced insurance that makes late data safe.
    """
    from pyspark.sql import Window

    inf = _infinity()
    out_cols = [key, *tracked, *_META_COLS]
    log_cols = [key, *tracked, "effective_from", "deleted_flg"]

    late_flg = (
        F.col("deleted_flg") if "deleted_flg" in late_events.columns else F.lit("N")
    )
    late = late_events.select(
        F.col(key), *[F.col(c) for c in tracked],
        F.col("effective_from").cast("timestamp").alias("effective_from"),
        late_flg.alias("deleted_flg"),
        F.lit(1).alias("__prio"),
    )

    if dim is not None:
        affected = late.select(key).distinct()
        log_untouched = log.select(*log_cols).join(affected, on=key, how="left_anti")
        log_affected = log.select(*log_cols).join(
            F.broadcast(affected), on=key, how="left_semi"
        )
    else:
        log_untouched = None
        log_affected = log.select(*log_cols)

    merged = log_affected.select(
        *log_cols, F.lit(0).alias("__prio")
    ).unionByName(late)
    w_conflict = Window.partitionBy(key, "effective_from").orderBy(
        F.col("__prio").desc()
    )
    affected_log = (
        merged.withColumn("__rn", F.row_number().over(w_conflict))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__prio")
    )

    w_key = Window.partitionBy(key).orderBy("effective_from")
    same_as_prev = F.col("deleted_flg").eqNullSafe(F.lag("deleted_flg").over(w_key))
    for c in tracked:
        same_as_prev = same_as_prev & F.col(c).eqNullSafe(F.lag(c).over(w_key))
    events = (
        affected_log.withColumn("__dup", F.coalesce(same_as_prev, F.lit(False)))
        .filter(~F.col("__dup"))
        .drop("__dup")
    )
    rebuilt = events.select(
        F.col(key), *[F.col(c) for c in tracked],
        F.col("effective_from"),
        F.coalesce(
            minus_seconds(F.lead("effective_from").over(w_key), 1), inf
        ).alias("effective_to"),
        F.col("deleted_flg"),
    )

    if dim is not None:
        dim_untouched = dim.select(out_cols).join(
            late.select(key).distinct(), on=key, how="left_anti"
        )
        new_dim = dim_untouched.unionByName(rebuilt.select(out_cols))
        new_log = log_untouched.unionByName(affected_log.select(log_cols))
        return new_dim, new_log
    return rebuilt.select(out_cols), affected_log.select(log_cols)
