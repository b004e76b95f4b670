"""Physical-plan audits: the plan each query runs is the plan we designed.

These tests encode the scale contract — pushdown reached the scan, small
dims broadcast, no cartesian products, Python only where declared — so a
refactor that silently regresses a plan fails CI even though results stay
correct.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_process_spark.plans import (
    broadcast_join_count,
    exchange_count,
    has_cartesian,
    plan_summary,
    pushed_filters,
    python_stage_count,
    read_schemas,
    unbounded_serial_exchanges,
)
from etl_process_spark.queries import QUERIES

SF_DIR = "/root/testdata/sf0.001"

# queries whose plan legitimately crosses into Python (mapInPandas decode).
# NOTE: heavy_hitter_order_groups also runs a mapInPandas sketch, but that
# phase executes eagerly at build time (localCheckpoint) — its RETURNED
# plan (verify scan + broadcast semi-join + exact agg) is JVM-only, which
# the n == 0 branch below verifies.
PYTHON_OK = {"image_decode_stats", "video_frame_sample", "audio_feature_stats",
             # round 5: real-codec corpus synthesis (PNG/WAV encode) +
             # decode both run in declared mapInPandas stages
             "image_resize_luma", "video_frame_luma",
             "wav_fingerprint_words",
             "image_rgb_channel_stats",
             # declared vectorized-UDF fast path: cell-cogrouped Arrow kNN
             # scoring (numpy over blocks, order-exact vs the JVM plan;
             # similarity.py::_knn_cells_arrow) — never row-at-a-time
             "margin_bitext_pairs"}
# round 6 decode-once: the media near-dup matchers materialize their
# digest table with localCheckpoint(eager=False) so the corpus is decoded
# exactly ONCE even though digests feed multiple plan branches. The
# returned plan therefore shows the checkpoint boundary (Scan
# ExistingRDD) — or, before first materialization, the declared Python
# stage itself. Either is the audited contract; a row-at-a-time UDF or an
# extra undeclared Python stage downstream would still fail (n must be
# 0 behind a boundary).
PYTHON_OK_CHECKPOINTED = {"image_phash_dup_pairs", "video_phash_dup_pairs",
                          "wav_fingerprint_dup_pairs",
                          "wav_fingerprint_offset_pairs"}
# single-query-vector top-k uses a broadcast nested-loop (1-row side)
NESTED_LOOP_OK = {"embedding_topk_cosine"}


def _df(spark, name):
    return QUERIES[name].builder(spark, SF_DIR)


def test_filter_and_projection_reach_the_scan(spark):
    df = _df(spark, "filtered_projection")
    pushed = " ".join(pushed_filters(df))
    assert "l_shipdate" in pushed and "l_discount" in pushed
    schemas = read_schemas(df)
    assert len(schemas) == 1
    # 5 of 11 lineitem columns read (2 keys + 2 measures + shipdate)
    assert schemas[0].count(":") == 5, schemas[0]
    for unused in ("l_partkey", "l_tax", "l_comment"):
        assert unused not in schemas[0]


def test_pricing_summary_partial_aggregation(spark):
    df = _df(spark, "pricing_summary")
    plan = plan_summary(df)
    # map-side partial agg + final agg => exactly one shuffle
    assert plan["exchanges"] == 1, plan
    assert plan["pushed_filters"], "shipdate filter must reach the scan"


def test_small_dims_broadcast_in_join_chains(spark):
    for name in ("order_region_denorm", "suppliers_with_shipments"):
        df = _df(spark, name)
        assert broadcast_join_count(df) >= 1, name
        assert not has_cartesian(df), name


def test_asof_join_is_broadcast_with_band_postfilter(spark):
    df = _df(spark, "events_asof_join")
    assert broadcast_join_count(df) >= 1
    assert not has_cartesian(df)


@pytest.mark.slow  # corpus-sweep/long-property tier (see pytest.ini)
def test_no_cartesian_products_anywhere(spark):
    for name, spec in sorted(QUERIES.items()):
        df = spec.builder(spark, SF_DIR)
        assert not has_cartesian(df), f"{name} plans a CartesianProduct"


@pytest.mark.slow  # corpus-sweep/long-property tier (see pytest.ini)
def test_no_unbounded_serial_exchange_anywhere(spark):
    """No query funnels a base table through one task: every
    SinglePartition exchange in the corpus must sit above a
    row-bounding operator (aggregate / limit / top-k heap / literal
    table). This is the machine check behind 'all unpartitioned
    windows are over bounded inputs' — a serial ntile/row_number over
    a full table (the shape that dies at 100 TB) fails here even if
    its results stay correct. `price_equidepth_histogram` used to be
    the one offender; it now rides global_ordinals."""
    for name, spec in sorted(QUERIES.items()):
        df = spec.builder(spark, SF_DIR)
        flagged = unbounded_serial_exchanges(df)
        assert not flagged, f"{name}: unbounded serial stage {flagged}"


def test_unbounded_serial_exchange_detector_positive_control(spark):
    """The audit must actually fire on the anti-pattern: a row_number
    window with no partitionBy over a base parquet table plans
    Exchange SinglePartition directly over the scan."""
    from pyspark.sql import Window

    od = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    bad = od.withColumn(
        "rn", F.row_number().over(Window.orderBy("o_orderkey"))
    )
    assert unbounded_serial_exchanges(bad), "detector missed a serial window"


def test_unbounded_serial_exchange_detector_join_leak_control(spark):
    """The false negative the any-operator-anywhere rule had: a serial
    window over join(aggregated branch, base table) contains an
    aggregate, but the base-table leaf still streams unbounded rows
    through the join into the single task. Every leaf-to-exchange path
    must be bounded, so this plan must be flagged."""
    from pyspark.sql import Window

    od = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    agg = od.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("tp"))
    joined = od.join(agg, "o_custkey")  # base table side is unbounded
    bad = joined.withColumn(
        "rn", F.row_number().over(Window.orderBy("o_orderkey"))
    )
    assert unbounded_serial_exchanges(bad), (
        "detector missed a serial window over join(agg, base-table)"
    )


@pytest.mark.slow  # corpus-sweep/long-property tier (see pytest.ini)
def test_python_only_where_declared(spark):
    for name, spec in sorted(QUERIES.items()):
        df = spec.builder(spark, SF_DIR)
        n = python_stage_count(df)
        if name in PYTHON_OK:
            assert n >= 1, f"{name} should run its decode via mapInPandas"
        elif name in PYTHON_OK_CHECKPOINTED:
            from etl_process_spark.plans.audit import explain_str

            boundary = "ExistingRDD" in explain_str(df)
            assert n >= 1 or boundary, (
                f"{name} should decode via mapInPandas (directly or behind "
                "its localCheckpoint boundary)"
            )
            if boundary:
                assert n == 0, (
                    f"{name} has a Python stage OUTSIDE its decode-once "
                    "checkpoint — the digest table should be the only "
                    "Python product"
                )
        else:
            assert n == 0, f"{name} has an undeclared Python stage in the plan"


def test_dedup_pipeline_shuffle_budget(spark):
    # explode -> md5 -> partial-agg min: one shuffle for the signature agg,
    # one for the bucket grouping, one for the final distinct, plus the
    # parallelism spread of the narrow test input
    df = _df(spark, "lsh_candidate_pairs")
    assert exchange_count(df) <= 4, plan_summary(df)


def test_exact_dedup_single_shuffle(spark):
    df = _df(spark, "dedup_exact")
    # fingerprint groupBy: partial agg then one exchange on the hash
    assert exchange_count(df) == 1, plan_summary(df)


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """Co-located join: same bucket key + count on both sides ⇒ the join
    needs NO exchange (the 'pay the shuffle once at write time' contract
    of TableCatalog.write_bucketed)."""
    from etl_process_spark.queries.registry import tbl
    from etl_process_spark.sources.tables import TableCatalog

    cat = TableCatalog(spark, str(tmp_path / "wh"))
    orders = tbl(spark, SF_DIR, "orders")
    lineitem = tbl(spark, SF_DIR, "lineitem")
    cat.write_bucketed("b_orders", orders, ["o_orderkey"], 4, sort_cols=["o_orderkey"])
    cat.write_bucketed("b_lineitem", lineitem, ["l_orderkey"], 4, sort_cols=["l_orderkey"])

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = cat.read_bucketed("b_lineitem").join(
            cat.read_bucketed("b_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        assert exchange_count(joined) == 0, plan_summary(joined)
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_global_topk_avoids_total_sort(spark):
    """ORDER BY … LIMIT plans as TakeOrderedAndProject (per-task heaps +
    driver merge), not a global Sort + single-partition exchange."""
    from etl_process_spark.plans.audit import explain_str

    plan = explain_str(_df(spark, "top_revenue_orders"))
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan  # no separate global sort node


def test_partitioned_table_prunes_directories(spark, tmp_path):
    """A predicate on the partition column must eliminate whole partition
    directories at planning time (the 100 TB form of the reference's
    file-date skipping, transaction.py:51)."""
    from etl_process_spark.sources.tables import TableCatalog

    cat = TableCatalog(spark, str(tmp_path / "wh"))
    df = spark.range(1000).select(
        F.col("id"),
        (F.col("id") % 10).cast("string").alias("day"),
    )
    cat.write_partitioned("facts", df, ["day"])
    pruned = cat.read("facts").filter(F.col("day") == "3")
    from etl_process_spark.plans.audit import explain_str

    assert "PartitionFilters: [" in explain_str(pruned)
    # runtime proof: the only files actually opened are the day=3 partition
    read_files = {
        r[0]
        for r in pruned.select(F.input_file_name()).distinct().collect()
    }
    assert read_files and all("day=3" in f for f in read_files)
    assert pruned.count() == 100


def test_sorted_layout_enables_stats_pruning(spark, tmp_path):
    """write_sorted must produce disjoint per-file value ranges (the
    layout that lets parquet min/max stats skip files/row-groups), and a
    narrow range predicate must draw rows from only the overlapping
    files — unsorted layout would surface rows from every file."""
    import glob as g

    import pyarrow.parquet as pq

    from etl_process_spark.queries.registry import tbl
    from etl_process_spark.sources.tables import TableCatalog

    cat = TableCatalog(spark, str(tmp_path / "wh"))
    lineitem = tbl(spark, SF_DIR, "lineitem")
    cat.write_sorted("li_sorted", lineitem, ["l_shipdate"], n_files=8)

    files = sorted(g.glob(str(tmp_path / "wh" / "li_sorted_v0" / "*.parquet")))
    assert len(files) == 8
    ranges = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        idx = md.schema.names.index("l_shipdate")
        mins = [md.row_group(i).column(idx).statistics.min for i in range(md.num_row_groups)]
        maxs = [md.row_group(i).column(idx).statistics.max for i in range(md.num_row_groups)]
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi <= lo, "file value ranges must be disjoint (range partitioning)"

    # runtime: a ~1-month predicate over ~7 years of data draws rows from
    # at most 2 of the 8 files (the boundary may split a month)
    pruned = cat.read("li_sorted").filter(
        (F.col("l_shipdate") >= "1997-03-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    assert "l_shipdate" in " ".join(pushed_filters(pruned))
    touched = {r[0] for r in pruned.select(F.input_file_name()).distinct().collect()}
    assert 1 <= len(touched) <= 2, touched
    expected = lineitem.filter(
        (F.col("l_shipdate") >= "1997-03-01") & (F.col("l_shipdate") < "1997-04-01")
    ).count()
    assert pruned.count() == expected > 0


def test_new_query_plan_budgets(spark):
    """Shuffle budgets for the newest operators: the resample pipeline
    stays within its designed 4 exchanges (obs agg, bounds agg, union
    window — plus input spread), and the heavy-hitter verify phase joins
    its candidate set by broadcast, never a shuffle join."""
    df = _df(spark, "resampled_user_values")
    assert exchange_count(df) <= 4, plan_summary(df)

    # broadcast is the load-bearing property: the fact table is never
    # shuffled for the join; the ≤3 exchanges are the candidate agg, the
    # exact-count agg (candidate keys only), and input spread
    hh = _df(spark, "heavy_hitter_order_groups")
    assert broadcast_join_count(hh) >= 1, plan_summary(hh)
    assert exchange_count(hh) <= 3, plan_summary(hh)


def test_round2_operator_plan_budgets(spark):
    """Plan contracts for the round-2 operators.

    - sharded packing: the (lang, shard, seq_id) aggregate REUSES the
      window's (lang, shard) hash partitioning — the whole query is ONE
      exchange, so k-way packing adds parallelism without adding a
      shuffle.
    - part_pagerank (adjacency + broadcast mode): the post-checkpoint
      plan keeps rank/contribution tables broadcast every round (≥6
      broadcast joins over 3 rounds) and stays within 9 exchanges — the
      O(|E|)-row edge list is never shuffle-joined.
    - balanced sampling: the counts side reads only the group column (a
      pruned scan), and the min-count scalar comes from a bounded window
      over the tiny counts table — not a THIRD derivation of it; the
      corpus side is filtered map-side behind one broadcast, within 3
      exchanges total, never re-shuffled for the gate.
    """
    pk = _df(spark, "packed_training_sequences_sharded")
    assert exchange_count(pk) <= 1, plan_summary(pk)

    pr = _df(spark, "part_pagerank")
    assert broadcast_join_count(pr) >= 6, plan_summary(pr)
    assert exchange_count(pr) <= 9, plan_summary(pr)

    bs = _df(spark, "balanced_lang_sample")
    assert broadcast_join_count(bs) >= 1, plan_summary(bs)
    assert exchange_count(bs) <= 3, plan_summary(bs)


def test_join_strategy_hints_change_plan_not_results(spark):
    """Physical-strategy control: the same logical join planned as
    sort-merge (default, spill-safe) and as shuffle-hash (no sort, wins
    when one side is much smaller but above the broadcast threshold)
    must produce identical rows — the engine's knob for tuning a 100 TB
    join without touching its semantics."""
    from etl_process_spark.plans.audit import explain_str
    from etl_process_spark.queries.registry import tbl

    li = tbl(spark, SF_DIR, "lineitem").select("l_orderkey", "l_extendedprice")
    od = tbl(spark, SF_DIR, "orders").select("o_orderkey", "o_orderpriority")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        smj = li.join(od, li.l_orderkey == od.o_orderkey)
        shj = li.join(od.hint("shuffle_hash"), li.l_orderkey == od.o_orderkey)
        assert "SortMergeJoin" in explain_str(smj)
        assert "ShuffledHashJoin" in explain_str(shj)
        cols = sorted(smj.columns)
        assert sorted(map(tuple, smj.select(*cols).collect())) == sorted(
            map(tuple, shj.select(*cols).collect())
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_zorder_layout_prunes_on_both_dimensions(spark, tmp_path):
    """Z-order clustering: with files range-partitioned on the Morton
    key, a small 2-D box predicate draws rows from a minority of files —
    on BOTH dimensions — where a 1-D sorted layout only prunes its own
    sort column and reads everything for the other."""
    from etl_process_spark.operators.zorder import zorder_key
    from etl_process_spark.queries.registry import tbl
    from etl_process_spark.sources.tables import TableCatalog

    n_files = 16
    df = (
        spark.range(64 * 64)
        .select(
            (F.col("id") % 64).alias("x"),
            (F.col("id") / 64).cast("long").alias("y"),
        )
        .withColumn("z", zorder_key(F.col("x"), F.col("y"), bits=6))
    )
    cat = TableCatalog(spark, str(tmp_path / "wh"))
    cat.write_sorted("z_tbl", df, ["z"], n_files=n_files)
    cat.write_sorted("x_tbl", df, ["x"], n_files=n_files)

    def files_touched(name, pred):
        d = cat.read(name).filter(pred)
        return d.select(F.input_file_name()).distinct().count()

    box = (F.col("x") >= 8) & (F.col("x") < 16) & (F.col("y") >= 8) & (F.col("y") < 16)
    y_band = (F.col("y") >= 8) & (F.col("y") < 16)

    # a 1/64-area box: Z-layout confines it to few files
    assert files_touched("z_tbl", box) <= 4
    # y-only predicate: x-sorted layout reads EVERY file; Z-layout skips
    assert files_touched("x_tbl", y_band) == n_files
    assert files_touched("z_tbl", y_band) <= n_files // 2
    # correctness unchanged by layout
    assert (
        cat.read("z_tbl").filter(box).count()
        == cat.read("x_tbl").filter(box).count()
        == 64
    )


def test_aqe_splits_skewed_join_partition_at_runtime(spark):
    """AQE skew-join handling, demonstrated at runtime: a sort-merge join
    where one key owns ~90% of the fact side gets its oversized shuffle
    partition split (`skew=true` in the final adaptive plan) — the
    built-in complement to operators/skew.py's explicit salting, and the
    reason a hot key can't strand a 100 TB join on one reducer."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.shuffle.partitions": "8",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        big = spark.range(400_000).select(
            F.when(F.col("id") % 10 != 0, F.lit(7)).otherwise(F.col("id") % 97).alias("k"),
            F.concat(F.lit("x" * 60), F.col("id").cast("string")).alias("payload"),
        )
        small = spark.range(100).select(F.col("id").alias("k"), F.col("id").alias("v"))
        j = big.join(small, "k")
        assert len(j.collect()) == 400_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert plan.count("skew=true") >= 1, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_q19_disjunction_pushes_cnf_residue_to_both_scans(spark):
    """brand_size_disjunction (Q19 shape): Catalyst's CNF conversion must
    extract each side's single-table residue of the OR-of-ANDs and push it
    into the parquet scan — the part scan gets the brand/size disjunction,
    the lineitem scan the quantity-range disjunction. Losing this pushdown
    means reading both tables in full at 100 TB."""
    df = _df(spark, "brand_size_disjunction")
    pushed = pushed_filters(df)
    li_pushed = [p for p in pushed if "l_quantity" in p]
    part_pushed = [p for p in pushed if "p_brand" in p]
    assert li_pushed and "Or(" in li_pushed[0], pushed
    assert part_pushed and "Or(" in part_pushed[0], pushed


def test_q15_aggregate_reused_not_recomputed(spark):
    """peak_revenue_suppliers (Q15 shape): the per-supplier revenue
    aggregate feeds both the join and its own max; AQE must plan the
    second consumer as a ReusedExchange so lineitem is scanned and
    shuffled once. (Reuse requires canonically identical subplans — the
    query states isnotnull(l_suppkey) on both consumers for exactly this
    reason.)"""
    df = _df(spark, "peak_revenue_suppliers")
    df.collect()  # reuse is decided at runtime under AQE
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in final, final[:2000]


def test_not_in_plans_null_aware_anti_join(spark):
    """customers_outside_regions: a NOT IN subquery is NOT a plain anti
    join (one NULL in the subquery must empty the result). Catalyst's
    single-column specialization must plan it as a null-aware
    BroadcastHashJoin (trailing `true` = isNullAware) — O(n) hash probes
    instead of the naive nested loop general NOT IN would need."""
    from etl_process_spark.plans.audit import explain_str

    df = _df(spark, "customers_outside_regions")
    simple = explain_str(df, "simple")
    import re

    assert re.search(r"BroadcastHashJoin .*LeftAnti, BuildRight, true", simple), simple


def test_dynamic_partition_pruning_from_join_filter(spark, tmp_path):
    """Runtime partition pruning: a selective filter on the dim side must
    prune the partitioned fact's directories at runtime via a dynamic
    subquery — at 100 TB this is the difference between scanning 7 years
    and 2. The scan must carry a dynamicpruningexpression PartitionFilter,
    and the rows read must match a static two-year filter exactly."""
    from etl_process_spark.plans.audit import explain_str

    sf = SF_DIR
    od = spark.read.parquet(f"{sf}/orders.parquet").withColumn(
        "o_year", F.year("o_orderdate")
    )
    path = str(tmp_path / "orders_by_year")
    od.write.partitionBy("o_year").parquet(path)
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [(y, "keep" if y in (1996, 1997) else "drop") for y in range(1995, 2002)],
        "d_year int, tag string",
    )
    joined = fact.join(dim.filter(F.col("tag") == "keep"), fact.o_year == dim.d_year)
    plan = explain_str(joined)
    assert "dynamicpruningexpression" in plan, plan[:1500]
    static = od.filter(F.col("o_year").isin(1996, 1997)).count()
    assert joined.count() == static


def test_bloom_filter_runtime_row_pruning(spark):
    """Runtime row-level filtering: when a shuffle join's small side is
    selectively filtered, the engine injects a bloom filter built from the
    creation side into the large side's scan (might_contain on the join
    key), discarding non-joining rows before the shuffle. Thresholds are
    sized for clusters, so the test lowers the application-side floor to
    demonstrate the mechanism; results must equal the unfiltered join."""
    from etl_process_spark.plans.audit import explain_str

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
            "l_orderkey", "l_extendedprice"
        )
        od = spark.read.parquet(f"{SF_DIR}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        joined = li.join(od, li.l_orderkey == od.o_orderkey)
        assert "might_contain" in explain_str(joined), "bloom filter not injected"
        n_bloom = joined.count()
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    assert n_bloom == li.join(od, li.l_orderkey == od.o_orderkey).count()


def test_catalog_append_with_schema_evolution(spark, tmp_path):
    """Warehouse tables evolve: a later batch may carry a new column.
    Appending it and reading with mergeSchema must surface the union
    schema, with NULLs for old rows — no rewrite of existing files (the
    only affordable semantics at 100 TB)."""
    from etl_process_spark.sources.tables import TableCatalog

    cat = TableCatalog(spark, str(tmp_path / "wh"))
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    cat.overwrite("dim", v1)
    v2 = spark.createDataFrame(
        [(3, "c", "extra")], "id long, name string, note string"
    )
    cat.append("dim", v2)
    merged = spark.read.option("mergeSchema", "true").parquet(
        *cat._current_dirs("dim")
    )
    assert set(merged.columns) == {"id", "name", "note"}
    rows = {r["id"]: r["note"] for r in merged.collect()}
    assert rows == {1: None, 2: None, 3: "extra"}

    # a compaction folds every directory without dropping the new column,
    # also when the first segment predates it
    cat.overwrite("dim2", v1.limit(1))
    cat.append("dim2", v1.filter("id = 2"))
    cat.append("dim2", v2)
    cat.compact("dim2")
    rows = {r["id"]: r["note"] for r in cat.read("dim2").collect()}
    assert rows == {1: None, 2: None, 3: "extra"}


def test_q6_scan_aggregate_pushes_all_predicates(spark):
    """The pure scan-aggregate (discount_revenue_forecast): all three
    predicates reach the lineitem scan as PushedFilters and the scan
    reads only the 4 referenced columns of 11 — at 100 TB this plan is
    scan-bandwidth-bound, the optimum for the shape."""
    df = QUERIES["discount_revenue_forecast"].builder(spark, SF_DIR)
    [filters] = pushed_filters(df)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in filters, filters
    [schema] = read_schemas(df)
    assert schema.count(":") == 4, schema  # shipdate, discount, quantity, price


def test_aggregate_topk_plans_as_take_ordered(spark):
    """Top-k ON a computed aggregate (Q3/Q10 shapes) must still plan as
    TakeOrderedAndProject over the aggregate output — per-partition
    heaps — not a global sort with a single-partition exchange."""
    from etl_process_spark.plans.audit import explain_str

    for name in ("shipping_priority_topk", "top_returned_customers"):
        plan = explain_str(QUERIES[name].builder(spark, SF_DIR))
        assert "TakeOrderedAndProject" in plan, name
        assert "Sort [" not in plan, name


def test_behavior_and_corpus_query_plan_budgets(spark):
    """Plan contracts for the round-2 behavior/corpus queries.

    - funnel: one events scan, one user_id exchange — step depth adds
      Window nodes, never scans or shuffles (the step counts ride ONE
      global aggregate + a map-side stack unpivot).
    - zorder key stats / length bucketing: pure map + one agg exchange.
    - BM25: the corpus is never shuffled whole — everything exchanged is
      (doc, matched-term) rows; df + (N, avgdl) sides broadcast.
    """
    fu = _df(spark, "funnel_conversion")
    fs = fu._jdf.queryExecution().executedPlan().toString()
    assert fs.count("Scan parquet") == 1, plan_summary(fu)
    assert fs.count("hashpartitioning(user_id") == 1, plan_summary(fu)

    for name in ("zorder_cluster_stats", "length_bucketed_batches"):
        df = _df(spark, name)
        ps = df._jdf.queryExecution().executedPlan().toString()
        assert ps.count("Scan parquet") == 1, (name, plan_summary(df))
        assert exchange_count(df) <= 2, (name, plan_summary(df))

    bm = _df(spark, "bm25_search_topk")
    # df side is a BroadcastHashJoin; the (N, avgdl) scalar rides a
    # BroadcastNestedLoopJoin — both are BroadcastExchange, zero shuffles
    # of the corpus for either
    bs = bm._jdf.queryExecution().executedPlan().toString()
    assert broadcast_join_count(bm) >= 1, plan_summary(bm)
    assert bs.count("BroadcastExchange") >= 2, plan_summary(bm)


def test_kmeans_and_triangle_plan_budgets(spark):
    """Scale contracts for the clustering/graph round-2 operators.

    - kmeans assignment is a pure map stage: the embeddings scan feeds
      the argmin via one packed-centroid BroadcastNestedLoopJoin — the
      corpus-side rows are never hash-exchanged to rank candidates (the
      only hash exchanges are the centroid-sized (cluster, dim) update
      aggregates and tiny init/limit plumbing).
    - incremental assign keeps the batch side shuffle-free the same way.
    - triangle counting plans no cartesian product and keeps the
      adjacency probe as equi joins.
    """
    km = _df(spark, "kmeans_embedding_clusters")
    s = km._jdf.queryExecution().executedPlan().toString()
    # earlier rounds hide behind the lazy localCheckpoint; the final
    # assignment must still be the packed-broadcast map stage
    assert s.count("BroadcastNestedLoopJoin") >= 1, plan_summary(km)
    assert not has_cartesian(km)

    inc = _df(spark, "kmeans_incremental_assign")
    si = inc._jdf.queryExecution().executedPlan().toString()
    assert si.count("BroadcastNestedLoopJoin") >= 1, plan_summary(inc)

    tri = _df(spark, "copurchase_triangles")
    assert not has_cartesian(tri), plan_summary(tri)


def test_round2b_query_plan_budgets(spark):
    """Plan contracts for the newest corpus queries.

    - lang_token_fertility / embedding_dim_stats: single partial-agg
      shuffle — token counting and the per-dim moment sums are map-side
      partials; the corpus text / vectors never move.
    - dsir_importance_weights: the corpus is exploded and shuffled
      exactly ONCE into the (doc, bucket) count table; the 256-row
      log-ratio model comes back by broadcast. 6 exchanges total (gram
      agg, two tiny re-aggs, scalar totals, final per-doc agg, spread).
    - part_bfs_reach: frontier rounds hide behind lazy localCheckpoints;
      the assembled result must still plan no cartesian product.
    """
    for name in ("lang_token_fertility", "embedding_dim_stats"):
        df = _df(spark, name)
        assert exchange_count(df) <= 2, plan_summary(df)

    ds = _df(spark, "dsir_importance_weights")
    assert exchange_count(ds) <= 6, plan_summary(ds)
    assert broadcast_join_count(ds) >= 1, plan_summary(ds)

    bfs = _df(spark, "part_bfs_reach")
    assert not has_cartesian(bfs), plan_summary(bfs)


def test_rollup_trend_checksum_plan_budgets(spark):
    """Plan contracts for the sketch-rollup / regression / checksum trio.

    - weekly_distinct_rollup_hll: the raw scan feeds the daily sketch agg
      and the weekly-exact agg; the weekly merge re-aggregates DAILY
      sketch rows (not raw events) and the tiny weekly tables join by
      broadcast — 5 exchanges, no raw re-shuffle for the merge grain.
    - nation_revenue_trend: dims broadcast onto orders (2 broadcast
      joins); the only exchanges are the (nation, year) agg, the 25-row
      moment agg, and input spread.
    - orders_table_checksum: one scan into one 1-row aggregate — the
      whole fingerprint is commutative map-side partials.
    """
    hll = _df(spark, "weekly_distinct_rollup_hll")
    assert exchange_count(hll) <= 5, plan_summary(hll)
    assert broadcast_join_count(hll) >= 1, plan_summary(hll)

    tr = _df(spark, "nation_revenue_trend")
    assert broadcast_join_count(tr) >= 2, plan_summary(tr)
    assert exchange_count(tr) <= 4, plan_summary(tr)

    ck = _df(spark, "orders_table_checksum")
    assert exchange_count(ck) <= 1, plan_summary(ck)


def test_zscore_apply_is_packed_broadcast_map_stage(spark):
    """The z-score application must be the kmeans packed-broadcast
    shape: one BroadcastNestedLoopJoin carries the single-row (mean[],
    std[]) arrays onto the corpus scan; the vectors are never hash-
    exchanged for the apply (the <=3 exchanges are the 64-row stats
    agg, the 1-row packing agg, and input spread)."""
    df = _df(spark, "embedding_zscore_apply")
    s = df._jdf.queryExecution().executedPlan().toString()
    assert s.count("BroadcastNestedLoopJoin") >= 1, plan_summary(df)
    assert exchange_count(df) <= 3, plan_summary(df)
    assert not has_cartesian(df)


def test_allpairs_and_trending_plan_budgets(spark):
    """- allpairs_jaccard_dups: post-checkpoint plan stays within 4
      exchanges (df count, ordering collect, candidate join + distinct);
      no cartesian — candidates come from the prefix equi-join only.
    - trending_types_per_window: the rank window reuses the counts
      aggregate's window_start partitioning — 2 exchanges total."""
    ap = _df(spark, "allpairs_jaccard_dups")
    assert exchange_count(ap) <= 4, plan_summary(ap)
    assert not has_cartesian(ap)

    tr = _df(spark, "trending_types_per_window")
    assert exchange_count(tr) <= 2, plan_summary(tr)


def test_contrastive_negatives_plan_budget(spark):
    """Negative sampling must be the bucket-probe shape: the anchor side
    broadcasts onto the bucketed corpus (equi-join on bucket — never
    anchors x corpus), and the only exchanges are the (anchor, slot)
    argmin aggregate + input spread."""
    df = _df(spark, "contrastive_negatives")
    assert exchange_count(df) <= 2, plan_summary(df)
    assert broadcast_join_count(df) >= 1, plan_summary(df)
    assert not has_cartesian(df)


def test_round3_new_operator_plan_budgets(spark):
    """Round-3 additions stay inside their scale shapes:
    - user_overlap_sketch: the sketch side is (set,lane)-keyed min
      aggregation (partial agg, tiny shuffle) and the exact-intersect
      side one aggregate; no cartesian beyond the 1x1 literal joins.
    - fs_part_linkage: candidates come from the (brand, size-band)
      equi-join only — no cartesian, scoring adds no exchange.
    - global_shuffle_ordinals: the global numbering must NOT plan a
      whole-corpus single-partition sort; only the bucket-count
      offsets window is unpartitioned (same audit as
      curriculum_ordinals).
    - head_dup_docs / source_domain_caps: one key-shuffle each."""
    ov = _df(spark, "user_overlap_sketch")
    assert not has_cartesian(ov), plan_summary(ov)
    # sketch min-agg + union re-agg + estimate agg + pivot + exact
    # intersect: all lane- or 1-row-sized shuffles
    assert exchange_count(ov) <= 9, plan_summary(ov)
    fs = _df(spark, "fs_part_linkage")
    assert not has_cartesian(fs), plan_summary(fs)
    assert exchange_count(fs) <= 3, plan_summary(fs)

    hd = _df(spark, "head_dup_docs")
    assert exchange_count(hd) <= 2, plan_summary(hd)
    sc = _df(spark, "source_domain_caps")
    assert exchange_count(sc) <= 2, plan_summary(sc)


def test_fuzzy_passjoin_is_equijoin_only(spark):
    """The skew-capped fuzzy path: candidates from the chunk-signature
    EQUI join (no cartesian, no length-band theta join on a hot key);
    the verify filter is a residual on equi-join output."""
    from etl_process_spark.operators.fuzzy import (
        _lanes,
        passjoin_candidates,
    )

    names = (
        QUERIES["similar_part_names"]
        .builder(spark, SF_DIR)
        .sparkSession.read.parquet(f"{SF_DIR}/part.parquet")
        .select(F.col("p_name").alias("s"))
        .distinct()
    )
    cand = passjoin_candidates(_lanes(names, 1), len_band=1, max_dist=2)
    assert not has_cartesian(cand), plan_summary(cand)
