"""SCD2 merge unit tests (SURVEY §5.1): new / changed / deleted / resurrected
keys, null-safe change detection, the -1 second close, idempotency."""

import datetime as dt

from pyspark.sql import functions as F

from etl_process_spark.operators.scd2 import scd2_current, scd2_init, scd2_merge

INF = dt.datetime(9999, 12, 31)
T0 = dt.datetime(2021, 1, 1)
T1 = dt.datetime(2021, 1, 2)
CLOCK = dt.datetime(2021, 1, 2, 12, 0, 0)

TRACKED = ["city", "kind"]


def _dim0(spark):
    batch = spark.createDataFrame(
        [("A", "Moscow", "POS"), ("B", "Perm", "ATM"), ("C", None, "POS")],
        ["tid", "city", "kind"],
    )
    return scd2_init(batch, "tid", TRACKED, F.lit(str(T0)))


def _merge_snapshot(dim, batch, ts):
    return scd2_merge(
        dim, batch, "tid", TRACKED,
        new_effective_from=F.lit(str(ts)),
        changed_effective_from=F.lit(str(ts)),
        source_keys=batch,
        clock=CLOCK,
    )


def _timeline(df, tid):
    rows = df.filter(F.col("tid") == tid).orderBy("effective_from").collect()
    return [(r.city, r.kind, r.effective_from, r.effective_to, r.deleted_flg) for r in rows]


def test_scd2_full_snapshot_evolution(spark):
    dim = _dim0(spark)
    # day 2 snapshot: A changed city, B gone (delete), C null->value, D new
    batch = spark.createDataFrame(
        [("A", "Kazan", "POS"), ("C", "Omsk", "POS"), ("D", "Tula", "ATM")],
        ["tid", "city", "kind"],
    )
    merged = _merge_snapshot(dim, batch, T1).cache()

    a = _timeline(merged, "A")
    assert a == [
        ("Moscow", "POS", T0, T1 - dt.timedelta(seconds=1), "N"),
        ("Kazan", "POS", T1, INF, "N"),
    ]
    # null -> value transition must be detected (null-safe P5)
    c = _timeline(merged, "C")
    assert c[0][0] is None and c[1][0] == "Omsk"
    # delete: tombstone opens at pinned clock, old closes 1s before
    b = _timeline(merged, "B")
    assert b == [
        ("Perm", "ATM", T0, CLOCK - dt.timedelta(seconds=1), "N"),
        ("Perm", "ATM", CLOCK, INF, "Y"),
    ]
    d = _timeline(merged, "D")
    assert d == [("Tula", "ATM", T1, INF, "N")]

    # invariants: exactly one open version per key; intervals don't overlap
    open_counts = (
        merged.filter(F.col("effective_to") == F.lit(str(INF)).cast("timestamp"))
        .groupBy("tid").count().collect()
    )
    assert all(r["count"] == 1 for r in open_counts)


def test_scd2_resurrection_and_idempotency(spark):
    dim = _dim0(spark)
    day2 = spark.createDataFrame([("A", "Moscow", "POS"), ("C", None, "POS")],
                                 ["tid", "city", "kind"])  # B deleted
    # materialize between merges, as the TableCatalog rewrite does in
    # production (each merge reads the PREVIOUS run's parquet, not a live
    # lineage of unions — also avoids SPARK's PartitioningCollection quirk)
    merged = _merge_snapshot(dim, day2, T1).localCheckpoint()
    t2 = dt.datetime(2021, 1, 3)
    day3 = spark.createDataFrame(
        [("A", "Moscow", "POS"), ("B", "Perm", "ATM"), ("C", None, "POS")],
        ["tid", "city", "kind"],
    )  # B resurrects
    merged2 = scd2_merge(
        merged, day3, "tid", TRACKED,
        new_effective_from=F.lit(str(t2)),
        changed_effective_from=F.lit(str(t2)),
        source_keys=day3, clock=t2,
    ).cache()
    b = _timeline(merged2, "B")
    assert b[-1] == ("Perm", "ATM", t2, INF, "N")  # resurrected open version
    assert b[-2][4] == "Y"  # tombstone closed

    # idempotency: re-merging the identical snapshot changes nothing
    merged3 = scd2_merge(
        merged2, day3, "tid", TRACKED,
        new_effective_from=F.lit(str(t2)),
        changed_effective_from=F.lit(str(t2)),
        source_keys=day3, clock=t2,
    )
    assert merged3.count() == merged2.count()
    assert merged3.exceptAll(merged2).count() == 0


def test_scd2_current_view(spark):
    dim = _dim0(spark)
    batch = spark.createDataFrame([("A", "Kazan", "POS")], ["tid", "city", "kind"])
    merged = _merge_snapshot(dim, batch, T1)
    cur = scd2_current(merged)
    assert {r.tid for r in cur.collect()} == {"A"}  # B, C tombstoned


# ---------------------------------------------------------------------------
# scd2_rebuild: retroactive repair with late-arriving events
# ---------------------------------------------------------------------------

def _late(spark, rows):
    return spark.createDataFrame(
        rows, "tid string, city string, kind string, effective_from timestamp"
    )


def test_rebuild_splits_interval_with_late_middle_event(spark):
    from etl_process_spark.operators.scd2 import scd2_rebuild

    t2 = dt.datetime(2021, 1, 5)
    dim = _merge_snapshot(
        _dim0(spark),
        _dim0(spark).sparkSession.createDataFrame(
            [("A", "Kazan", "POS"), ("B", "Perm", "ATM"), ("C", None, "POS")],
            ["tid", "city", "kind"],
        ),
        t2,
    )
    late_ts = dt.datetime(2021, 1, 3)
    rebuilt = scd2_rebuild(
        dim, _late(spark, [("A", "Tver", "POS", late_ts)]), "tid", TRACKED
    ).cache()
    assert _timeline(rebuilt, "A") == [
        ("Moscow", "POS", T0, late_ts - dt.timedelta(seconds=1), "N"),
        ("Tver", "POS", late_ts, t2 - dt.timedelta(seconds=1), "N"),
        ("Kazan", "POS", t2, INF, "N"),
    ]
    # untouched keys pass through byte-identical
    assert _timeline(rebuilt, "B") == _timeline(dim, "B")


def test_rebuild_prepends_event_before_first_version(spark):
    from etl_process_spark.operators.scd2 import scd2_rebuild

    dim = _dim0(spark)
    early = dt.datetime(2020, 12, 1)
    rebuilt = scd2_rebuild(
        dim, _late(spark, [("A", "Kaluga", "ATM", early)]), "tid", TRACKED
    )
    assert _timeline(rebuilt, "A") == [
        ("Kaluga", "ATM", early, T0 - dt.timedelta(seconds=1), "N"),
        ("Moscow", "POS", T0, INF, "N"),
    ]


def test_rebuild_correction_at_same_timestamp_late_wins(spark):
    from etl_process_spark.operators.scd2 import scd2_rebuild

    dim = _dim0(spark)
    rebuilt = scd2_rebuild(
        dim, _late(spark, [("A", "CorrectedCity", "POS", T0)]), "tid", TRACKED
    )
    assert _timeline(rebuilt, "A") == [("CorrectedCity", "POS", T0, INF, "N")]


def test_rebuild_consolidates_confirming_event_and_is_idempotent(spark):
    from etl_process_spark.operators.scd2 import scd2_rebuild

    dim = _dim0(spark)
    # Event that merely confirms A's current state, later than T0.
    confirming = _late(spark, [("A", "Moscow", "POS", dt.datetime(2021, 1, 10))])
    rebuilt = scd2_rebuild(dim, confirming, "tid", TRACKED).cache()
    assert _timeline(rebuilt, "A") == [("Moscow", "POS", T0, INF, "N")]
    twice = scd2_rebuild(rebuilt, confirming, "tid", TRACKED)
    assert sorted(map(tuple, twice.collect())) == sorted(map(tuple, rebuilt.collect()))


def test_rebuild_out_of_order_equals_sequential_in_order_merges(spark):
    """The headline property: merging day batches IN ORDER with scd2_merge
    equals merging them out of order when the stragglers go through
    scd2_rebuild — late data does not corrupt history."""
    from etl_process_spark.operators.scd2 import scd2_rebuild

    days = [
        (dt.datetime(2021, 2, 1), [("A", "Moscow", "POS"), ("B", "Perm", "ATM")]),
        (dt.datetime(2021, 2, 2), [("A", "Kazan", "POS"), ("B", "Perm", "ATM")]),
        (dt.datetime(2021, 2, 3), [("A", "Kazan", "ATM"), ("B", "Omsk", "ATM")]),
        (dt.datetime(2021, 2, 4), [("A", "Tver", "ATM"), ("B", "Omsk", "POS")]),
    ]

    def batch(rows):
        return spark.createDataFrame(rows, ["tid", "city", "kind"])

    # In-order: init on day 1, merge days 2..4 (no deletes in play).
    in_order = scd2_init(batch(days[0][1]), "tid", TRACKED, F.lit(str(days[0][0])))
    for ts, rows in days[1:]:
        in_order = scd2_merge(
            in_order, batch(rows), "tid", TRACKED,
            new_effective_from=F.lit(str(ts)),
            changed_effective_from=F.lit(str(ts)),
        ).localCheckpoint()

    # Out of order: days 1 and 4 first, then 3 and 2 arrive late.
    shuffled = scd2_init(batch(days[0][1]), "tid", TRACKED, F.lit(str(days[0][0])))
    shuffled = scd2_merge(
        shuffled, batch(days[3][1]), "tid", TRACKED,
        new_effective_from=F.lit(str(days[3][0])),
        changed_effective_from=F.lit(str(days[3][0])),
    ).localCheckpoint()
    for idx in (2, 1):
        ts, rows = days[idx]
        late = batch(rows).withColumn("effective_from", F.lit(str(ts)).cast("timestamp"))
        shuffled = scd2_rebuild(shuffled, late, "tid", TRACKED).localCheckpoint()

    assert sorted(map(tuple, shuffled.collect())) == sorted(
        map(tuple, in_order.collect())
    )


def test_scd2_asof_reconstructs_each_day(spark):
    """Snapshot at T0, mid-interval, exactly at a version boundary, and
    after a delete — the inclusive-interval semantics of the -1s close."""
    from etl_process_spark.operators.scd2 import scd2_asof

    t2 = dt.datetime(2021, 1, 5)
    dim = _merge_snapshot(
        _dim0(spark),
        _dim0(spark).sparkSession.createDataFrame(
            [("A", "Kazan", "POS"), ("C", None, "POS")],  # B deleted
            ["tid", "city", "kind"],
        ),
        t2,
    ).cache()

    day0 = {r["tid"]: r["city"] for r in scd2_asof(dim, T0).collect()}
    assert day0 == {"A": "Moscow", "B": "Perm", "C": None}

    # strictly inside A's first interval
    mid = {r["tid"]: r["city"] for r in scd2_asof(dim, dt.datetime(2021, 1, 3)).collect()}
    assert mid["A"] == "Moscow"

    # exactly at the new version's open instant -> new version
    at_t2 = {r["tid"]: r["city"] for r in scd2_asof(dim, t2).collect()}
    assert at_t2["A"] == "Kazan"
    # exactly at the close instant (t2 - 1s) -> old version
    at_close = {
        r["tid"]: r["city"]
        for r in scd2_asof(dim, t2 - dt.timedelta(seconds=1)).collect()
    }
    assert at_close["A"] == "Moscow"

    # B tombstoned at CLOCK: absent after, visible with include_deleted
    after = scd2_asof(dim, CLOCK + dt.timedelta(hours=1))
    assert "B" not in {r["tid"] for r in after.collect()}
    with_del = scd2_asof(dim, CLOCK + dt.timedelta(hours=1), include_deleted=True)
    assert {r["tid"] for r in with_del.collect()} == {"A", "B", "C"}


# ---------------------------------------------------------------------------
# scd2_merge against the 7-slice union it replaced
# ---------------------------------------------------------------------------

def _seven_slice_merge(dim, batch, key, tracked, *, new_effective_from,
                       changed_effective_from, source_keys=None, clock=None):
    """The merge as a union of 7 disjoint slices (history, untouched, new
    keys, new versions, closed old, tombstones, closed deleted), with new
    keys decided against the whole history: the oracle of the one-join
    ``scd2_merge``."""
    from etl_process_spark.functions.scalar import INFINITY_TS, changed_any, minus_seconds

    inf = F.to_timestamp(F.lit(INFINITY_TS))
    out_cols = [key, *tracked, "effective_from", "effective_to", "deleted_flg"]
    current_all = dim.filter(F.col("effective_to") == inf)
    history = dim.filter(F.col("effective_to") != inf)
    stg, tgt = batch.alias("stg"), current_all.alias("tgt")
    new_rows = stg.join(dim.select(key).distinct(), on=key, how="left_anti").select(
        F.col(key), *tracked,
        new_effective_from.cast("timestamp").alias("effective_from"),
        inf.alias("effective_to"), F.lit("N").alias("deleted_flg"),
    )
    changed = stg.join(
        tgt, on=F.col(f"stg.{key}") == F.col(f"tgt.{key}"), how="inner"
    ).filter(changed_any("stg", "tgt", tracked) | (F.col("tgt.deleted_flg") == "Y"))
    changed_ts = changed_effective_from.cast("timestamp")
    new_versions = changed.select(
        F.col(f"stg.{key}").alias(key), *[F.col(f"stg.{c}").alias(c) for c in tracked],
        changed_ts.alias("effective_from"), inf.alias("effective_to"),
        F.lit("N").alias("deleted_flg"),
    )
    closed_old = changed.select(
        F.col(f"tgt.{key}").alias(key), *[F.col(f"tgt.{c}").alias(c) for c in tracked],
        F.col("tgt.effective_from").alias("effective_from"),
        minus_seconds(changed_ts, 1).alias("effective_to"),
        F.col("tgt.deleted_flg").alias("deleted_flg"),
    )
    touched = changed.select(F.col(f"stg.{key}").alias(key))
    parts = [history, new_rows, new_versions, closed_old]
    if source_keys is not None:
        clock_ts = F.to_timestamp(F.lit(str(clock)))
        deleted = current_all.filter(F.col("deleted_flg") == "N").join(
            source_keys.select(key).distinct(), on=key, how="left_anti")
        parts.append(deleted.select(
            F.col(key), *tracked, clock_ts.alias("effective_from"),
            inf.alias("effective_to"), F.lit("Y").alias("deleted_flg")))
        parts.append(deleted.select(
            F.col(key), *tracked, "effective_from",
            minus_seconds(clock_ts, 1).alias("effective_to"), "deleted_flg"))
        touched = touched.unionByName(deleted.select(key))
    parts.append(current_all.join(touched.distinct(), on=key, how="left_anti"))
    result = parts[0].select(out_cols)
    for p in parts[1:]:
        result = result.unionByName(p.select(out_cols))
    return result


def _bag(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _both(dim, batch, key, tracked, **kw):
    """The one-join merge and the oracle on the same input; asserts equal
    bags and returns the merged rows."""
    got = _bag(scd2_merge(dim, batch, key, tracked, **kw))
    assert got == _bag(_seven_slice_merge(dim, batch, key, tracked, **kw))
    return got


def test_merge_matches_seven_slice_oracle_over_random_days(spark):
    """Random day sequences of upserts, deletes, NULL values and
    resurrections (the property suite's universe), with delete detection
    by the batch itself, by a separate key frame, and off."""
    import random

    rng = random.Random(20240101)
    schema = "k string, v int, effective_from timestamp, effective_to timestamp, deleted_flg string"
    n_days = 0
    for _ in range(3):
        days = [
            {k: rng.choice([None, 0, 1, 2, 3])
             for k in rng.sample(["k1", "k2", "k3"], rng.randint(0, 3))}
            for _ in range(rng.randint(2, 3))
        ]

        def batch(i):
            return spark.createDataFrame(
                [(k, v, T0 + dt.timedelta(days=i)) for k, v in sorted(days[i].items())],
                "k string, v int, batch_ts timestamp",
            )

        rows = [tuple(r) for r in scd2_init(batch(0), "k", ["v"], F.col("batch_ts")).collect()]
        for i in range(1, len(days)):
            b = batch(i)
            keys = (b, b.select("k"), None)[n_days % 3]
            rows = _both(
                spark.createDataFrame(rows, schema), b, "k", ["v"],
                new_effective_from=F.col("batch_ts"),
                changed_effective_from=F.col("batch_ts"),
                source_keys=keys, clock=T0 + dt.timedelta(days=i, hours=1),
            )
            n_days += 1
    assert n_days >= 3


def test_merge_matches_oracle_on_resurrected_tombstone(spark):
    dim = _merge_snapshot(
        _dim0(spark),
        spark.createDataFrame([("A", "Moscow", "POS")], ["tid", "city", "kind"]),
        T1,
    )  # B and C tombstoned
    day3 = spark.createDataFrame(
        [("A", "Moscow", "POS"), ("B", "Perm", "ATM"), ("C", "Omsk", "POS")],
        ["tid", "city", "kind"],
    )
    t2 = dt.datetime(2021, 1, 3)
    rows = _both(
        spark.createDataFrame(_bag(dim), dim.schema), day3, "tid", TRACKED,
        new_effective_from=F.lit(str(t2)), changed_effective_from=F.lit(str(t2)),
        source_keys=day3, clock=t2,
    )
    assert ("B", "Perm", "ATM", t2, INF, "N") in rows
    assert ("C", "Omsk", "POS", t2, INF, "N") in rows


def test_merge_matches_oracle_when_source_keys_differ_from_batch(spark):
    """The CDC shape: the batch holds only inserts and updates, and
    ``source_keys`` is the full key snapshot that marks deletions."""
    snap1 = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "id long, name string, v double")
    upserts = spark.createDataFrame([(2, "b2", 21.0), (4, "d", 40.0)],
                                    "id long, name string, v double")
    keep_keys = spark.createDataFrame([(1,), (2,), (4,)], "id long")
    dim = scd2_init(snap1, "id", ["name", "v"], F.lit("2024-01-01"))
    rows = _both(
        dim, upserts, "id", ["name", "v"],
        new_effective_from=F.lit("2024-01-02"), changed_effective_from=F.lit("2024-01-02"),
        source_keys=keep_keys, clock="2024-01-02 00:00:00",
    )
    assert [r[:2] for r in rows if r[5] == "Y"] == [(3, "c")]
    assert len(rows) == 6


def test_merge_plans_one_join_of_batch_and_open_versions(spark):
    """A snapshot merge (``source_keys`` is the batch) plans one join: the
    full outer join of the batch with the open versions. A separate key
    frame adds the one join with its distinct keys."""
    dim = _dim0(spark)
    batch = spark.createDataFrame([("A", "Kazan", "POS")], ["tid", "city", "kind"])
    kw = dict(new_effective_from=F.lit(str(T1)), changed_effective_from=F.lit(str(T1)),
              clock=CLOCK)

    def joins(source_keys):
        m = scd2_merge(dim, batch, "tid", TRACKED, source_keys=source_keys, **kw)
        plan = m._jdf.queryExecution().optimizedPlan().toString()
        return [line.strip(" :+-").split(",")[0] for line in plan.splitlines()
                if line.strip(" :+-").startswith("Join ")]

    assert joins(batch) == ["Join FullOuter"]
    assert joins(None) == ["Join FullOuter"]
    assert joins(batch.select("tid")) == ["Join LeftOuter", "Join FullOuter"]
