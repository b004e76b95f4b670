"""Fact loader tests: European decimal parse, dedup-on-insert idempotency,
dated-inbox discovery/archival, watermark protocol."""

import datetime as dt
import json
import os

import pytest
from decimal import Decimal

from pyspark.sql import functions as F

from etl_process_spark.pipeline.loaders import load_transactions_file
from etl_process_spark.sources.inbox import DatedInbox, parse_file_date
from etl_process_spark.sources.watermark import WatermarkStore

CSV = (
    "transaction_id;transaction_date;amount;card_num;oper_type;oper_result;terminal\n"
    "t1;2021-01-01 10:00:00;1.234,56;C1;PAYMENT;SUCCESS;T1\n"
    "t2;2021-01-01 11:00:00;10,00;C2;WITHDRAW;REJECT;T2\n"
)


def test_transactions_load_and_dedup(spark, tmp_path):
    p = tmp_path / "transactions_01012021.txt"
    p.write_text(CSV)
    new = load_transactions_file(spark, str(p), fact=None)
    rows = {r.trans_id: r for r in new.collect()}
    assert rows["t1"].amt == Decimal("1234.56")  # European format F3
    assert rows["t2"].amt == Decimal("10.00")
    assert rows["t1"].trans_date == dt.datetime(2021, 1, 1, 10)

    # idempotent re-load: anti-join against existing fact appends nothing
    again = load_transactions_file(spark, str(p), fact=new)
    assert again.count() == 0


def test_dated_inbox(tmp_path):
    for name in ["transactions_01012021.txt", "transactions_15022021.txt",
                 "transactions_02012021.txt"]:
        (tmp_path / name).write_text(CSV)
    inbox = DatedInbox(str(tmp_path), "transactions_*.txt")
    dates = [d for d, _ in inbox.discover()]
    assert dates == [dt.date(2021, 1, 1), dt.date(2021, 1, 2), dt.date(2021, 2, 15)]
    # watermark skip: strictly-after filter
    dates2 = [d for d, _ in inbox.discover(after=dt.date(2021, 1, 1))]
    assert dates2 == [dt.date(2021, 1, 2), dt.date(2021, 2, 15)]
    # archive moves the file out of the inbox
    d0, p0 = inbox.discover()[0]
    dest = inbox.archive(p0)
    assert os.path.exists(dest) and not os.path.exists(p0)
    assert len(inbox.discover()) == 2


def test_parse_file_date():
    assert parse_file_date("transactions_31122021.txt") == dt.date(2021, 12, 31)


def test_watermark_store(spark, tmp_path):
    from pyspark.sql import functions as F

    store = WatermarkStore(str(tmp_path / "meta.json"))
    assert store.get("fact") == "1900-01-01"  # epoch default (A3)
    df = spark.createDataFrame(
        [(dt.datetime(2021, 1, 1, 10),), (dt.datetime(2021, 1, 2, 9),)], "ts timestamp"
    )
    store.advance_from("fact", df, F.col("ts"))
    assert store.get("fact") == "2021-01-02 09:00:00"
    # watermark never regresses
    old = spark.createDataFrame([(dt.datetime(2020, 1, 1),)], "ts timestamp")
    store.advance_from("fact", old, F.col("ts"))
    assert store.get("fact") == "2021-01-02 09:00:00"


POINTER_KEYS = {"dirs", "committed", "schema", "stats"}


def _pointer_keys(cat, name):
    with open(os.path.join(cat.root, f"{name}.version.json")) as fh:
        return set(json.load(fh))


def test_catalog_compaction_merges_small_files(spark, tmp_path):
    """Many small appended files compact to few target-sized files with
    identical data, atomically (versioned-pointer swap)."""
    from etl_process_spark.sources.tables import TableCatalog

    cat = TableCatalog(spark, str(tmp_path / "wh"))
    for batch in range(5):
        cat.append(
            "ev",
            spark.range(batch * 100, (batch + 1) * 100).repartition(8),
        )
    before_dirs = cat._current_dirs("ev")
    n_before = sum(
        1 for d in before_dirs for f in os.listdir(d) if f.endswith(".parquet")
    )
    assert n_before >= 20  # genuinely fragmented

    n_after = cat.compact("ev", target_file_bytes=64 * 1024)
    assert n_after < n_before
    got = sorted(r["id"] for r in cat.read("ev").collect())
    assert got == list(range(500))
    # swapped, not in-place: no live directory is shared before and after
    assert not set(cat._current_dirs("ev")) & set(before_dirs)


def test_catalog_time_travel_and_vacuum(spark, tmp_path):
    from etl_process_spark.sources.tables import TableCatalog

    cat = TableCatalog(spark, str(tmp_path / "wh"))
    for n in (3, 5, 7):
        cat.overwrite("dim", spark.range(n))
    assert cat.versions("dim") == [0, 1, 2]
    assert cat.read_version("dim", 0).count() == 3
    assert cat.read_version("dim", 1).count() == 5
    assert cat.read("dim").count() == 7  # pointer at newest

    dropped = cat.vacuum("dim", keep_last=2)
    assert dropped == [0]
    assert cat.versions("dim") == [1, 2]
    assert cat.read("dim").count() == 7
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError, match="no version 0"):
        cat.read_version("dim", 0)

    # an append lands in a new directory: the snapshot it follows keeps
    # the rows that were written to it
    cat.overwrite("t", spark.range(3))
    assert _pointer_keys(cat, "t") == POINTER_KEYS
    cat.append("t", spark.range(3, 5))
    assert _pointer_keys(cat, "t") == POINTER_KEYS
    assert cat.read_version("t", 0).count() == 3
    assert cat.read("t").count() == 5


def test_observed_metrics_ride_the_action(spark, tmp_path):
    """observe() metrics (row count, null counts, watermark bounds) must
    be available after a single write action — no second scan."""
    import datetime as dt

    from etl_process_spark.pipeline.quality import observed

    rows = [
        (1, "a", dt.datetime(2024, 1, 1)),
        (2, None, dt.datetime(2024, 1, 3)),
        (3, "c", None),
    ]
    df = spark.createDataFrame(rows, "id long, name string, update_dt timestamp")
    df2, obs = observed(df, null_check_cols=["name", "update_dt"], watermark_col="update_dt")
    df2.write.mode("overwrite").parquet(str(tmp_path / "out"))
    got = obs.get
    assert got["n_rows"] == 3
    assert got["n_nulls_name"] == 1
    assert got["n_nulls_update_dt"] == 1
    assert got["wm_max"] == dt.datetime(2024, 1, 3)
    assert got["wm_min"] == dt.datetime(2024, 1, 1)


def _write_xlsx(path, sheets):
    """Hand-build a minimal OOXML workbook: sheets = {name: rows}."""
    import zipfile

    def esc(s):
        return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

    shared, shared_idx = [], {}

    def sref(s):
        if s not in shared_idx:
            shared_idx[s] = len(shared)
            shared.append(s)
        return shared_idx[s]

    def col_letter(i):
        out = ""
        i += 1
        while i:
            i, r = divmod(i - 1, 26)
            out = chr(65 + r) + out
        return out

    sheet_xml = {}
    for sname, rows in sheets.items():
        body = []
        for ri, row in enumerate(rows, start=1):
            cells = []
            for ci, v in enumerate(row):
                if v is None:
                    continue
                ref = f"{col_letter(ci)}{ri}"
                if isinstance(v, (int, float)):
                    cells.append(f'<c r="{ref}"><v>{v}</v></c>')
                elif ci % 2 == 0:  # exercise BOTH string encodings
                    cells.append(f'<c r="{ref}" t="s"><v>{sref(v)}</v></c>')
                else:
                    cells.append(f'<c r="{ref}" t="inlineStr"><is><t>{esc(v)}</t></is></c>')
            body.append(f'<row r="{ri}">{"".join(cells)}</row>')
        sheet_xml[sname] = (
            '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
            f'<sheetData>{"".join(body)}</sheetData></worksheet>'
        )

    M = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    R = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    P = "http://schemas.openxmlformats.org/package/2006/relationships"
    names = list(sheets)
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(
            "xl/workbook.xml",
            f'<workbook xmlns="{M}" xmlns:r="{R}"><sheets>'
            + "".join(
                f'<sheet name="{n}" sheetId="{i+1}" r:id="rId{i+1}"/>'
                for i, n in enumerate(names)
            )
            + "</sheets></workbook>",
        )
        zf.writestr(
            "xl/_rels/workbook.xml.rels",
            f'<Relationships xmlns="{P}">'
            + "".join(
                f'<Relationship Id="rId{i+1}" Type="{R}/worksheet" '
                f'Target="worksheets/sheet{i+1}.xml"/>'
                for i in range(len(names))
            )
            + "</Relationships>",
        )
        for i, n in enumerate(names):
            zf.writestr(f"xl/worksheets/sheet{i+1}.xml", sheet_xml[n])
        zf.writestr(
            "xl/sharedStrings.xml",
            f'<sst xmlns="{M}">'
            + "".join(f"<si><t>{esc(s)}</t></si>" for s in shared)
            + "</sst>",
        )


def test_read_excel_stdlib_parser(spark, tmp_path):
    """S2 for real: the stdlib OOXML reader handles shared + inline
    strings, numbers, missing cells, multiple sheets, and the
    first-row-header contract of the reference's xlsx sources."""
    import pytest as _pytest

    from etl_process_spark.sources.readers import read_excel

    path = str(tmp_path / "blacklist.xlsx")
    _write_xlsx(
        path,
        {
            "blacklist": [
                ["date", "passport"],
                ["2024-01-05", "P 111"],
                ["2024-01-06", None],
                [20240107, "P <3>"],
            ],
            "terminals": [["terminal_id"], ["T1"]],
        },
    )
    df = read_excel(spark, path, "blacklist", ["entry_dt", "passport_num"],
                    file_date="2024-01-07")
    rows = {tuple(r) for r in df.collect()}
    assert rows == {
        ("2024-01-05", "P 111", "2024-01-07"),
        ("2024-01-06", None, "2024-01-07"),
        ("20240107", "P <3>", "2024-01-07"),
    }
    other = read_excel(spark, path, "terminals", ["terminal_id"])
    assert [r[0] for r in other.collect()] == ["T1"]
    with _pytest.raises(ValueError, match="not found"):
        read_excel(spark, path, "nope", [])


def test_terminals_xlsx_snapshot_scd2_flow(spark, tmp_path):
    """The reference's terminals flow end-to-end with REAL xlsx input
    (terminals.py:50-194): daily full-snapshot workbooks -> staged
    strings -> SCD2 merge with effective_from = file date and staged
    keys as the delete snapshot. Day 2 changes T1's city, drops T2,
    adds T3 — the history must show the -1 s close, the tombstone, and
    the new key."""
    import datetime as dt

    from pyspark.sql import functions as F

    from etl_process_spark.operators.scd2 import scd2_init, scd2_merge
    from etl_process_spark.sources.readers import read_excel

    def snapshot(name, rows):
        path = str(tmp_path / name)
        _write_xlsx(path, {"terminals": [["terminal_id", "city"]] + rows})
        return path

    d1 = snapshot("terminals_01012024.xlsx", [["T1", "Moscow"], ["T2", "Kazan"]])
    d2 = snapshot("terminals_02012024.xlsx", [["T1", "Tver"], ["T3", "Omsk"]])

    s1 = read_excel(spark, d1, "terminals", ["terminal_id", "city"])
    dim = scd2_init(s1, "terminal_id", ["city"], F.lit("2024-01-01 00:00:00"))
    s2 = read_excel(spark, d2, "terminals", ["terminal_id", "city"])
    dim = scd2_merge(
        dim, s2, "terminal_id", ["city"],
        new_effective_from=F.lit("2024-01-02 00:00:00"),
        changed_effective_from=F.lit("2024-01-02 00:00:00"),
        source_keys=s2,
        clock="2024-01-02 00:00:00",
    )
    rows = {
        (r["terminal_id"], r["city"], str(r["effective_from"]),
         str(r["effective_to"]), r["deleted_flg"])
        for r in dim.collect()
    }
    inf = "9999-12-31 00:00:00"
    close = "2024-01-01 23:59:59"  # day2 - 1 second (F8)
    assert ("T1", "Moscow", "2024-01-01 00:00:00", close, "N") in rows
    assert ("T1", "Tver", "2024-01-02 00:00:00", inf, "N") in rows
    assert ("T3", "Omsk", "2024-01-02 00:00:00", inf, "N") in rows
    tomb = [r for r in rows if r[0] == "T2" and r[4] == "Y"]
    assert len(tomb) == 1 and tomb[0][3] == inf
    assert ("T2", "Kazan", "2024-01-01 00:00:00", close, "N") in rows


def test_events_loader_normalizes_any_ts_physical_type(spark, tmp_path):
    """The driver has regenerated events.parquet with different physical
    types for ts across rounds (int64 nanos, then timestamp[us]); tbl()
    must hand every downstream query one stable TimestampType column with
    identical wall-clock values regardless of which format is on disk."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from etl_process_spark.queries.registry import tbl

    base = dt.datetime(2024, 5, 1, 12, 30, 45, 123456)
    micros = int(base.timestamp() * 1_000_000) + 456  # non-zero sub-ms tail
    rows = {
        "event_id": [1],
        "user_id": [7],
        "event_type": ["click"],
        "value": [1.5],
        "props": ['{"k": 1}'],
    }

    variants = {
        "nanos": pa.array([micros * 1000], type=pa.int64()),
        "micros_ntz": pa.array([micros], type=pa.timestamp("us")),
    }
    seen = []
    for label, ts_arr in variants.items():
        d = tmp_path / label
        d.mkdir()
        table = pa.table({"event_id": rows["event_id"], "ts": ts_arr, **{
            k: v for k, v in rows.items() if k != "event_id"}})
        pq.write_table(table, str(d / "events.parquet"))
        df = tbl(spark, str(d), "events")
        assert isinstance(df.schema["ts"].dataType, T.TimestampType), label
        seen.append((label, df.select("ts").first()[0]))

    (_, ts_a), (_, ts_b) = seen
    assert ts_a == ts_b, f"wall-clock drift across physical types: {seen}"


def test_quarantine_splits_unparseable_rows(spark, tmp_path):
    """Dead-letter path: present-but-unparseable values are quarantined
    with reasons; absent values stay clean as NULLs (reference
    tolerance); repaired rejects replay through the same loader."""
    from etl_process_spark.pipeline.loaders import (
        quarantine_transactions,
        stage_transactions,
        typed_transactions,
    )

    bad_csv = (
        "transaction_id;transaction_date;amount;card_num;oper_type;oper_result;terminal\n"
        "t1;2021-01-01 10:00:00;1.234,56;C1;PAYMENT;SUCCESS;T1\n"
        "t2;NOT-A-DATE;10,00;C2;WITHDRAW;REJECT;T2\n"
        "t3;2021-01-01 12:00:00;garbage;C3;PAYMENT;SUCCESS;T3\n"
        "t4;2021-01-01 13:00:00;;C4;PAYMENT;SUCCESS;T4\n"
    )
    p = tmp_path / "transactions_01012021.txt"
    p.write_text(bad_csv)

    clean, rejects = quarantine_transactions(stage_transactions(spark, str(p)))

    clean_rows = {r["trans_id"]: r for r in clean.collect()}
    assert set(clean_rows) == {"t1", "t4"}
    assert clean_rows["t1"]["amt"] == Decimal("1234.56")
    assert clean_rows["t4"]["amt"] is None  # absent source -> NULL, not reject

    rej = {r["transaction_id"]: r["reject_reasons"] for r in rejects.collect()}
    assert rej == {
        "t2": ["unparseable_transaction_date"],
        "t3": ["unparseable_amount"],
    }

    # Repair and replay: fix the raw strings, re-type, nothing else changes.
    repaired = rejects.drop("reject_reasons").withColumn(
        "transaction_date",
        F.when(F.col("transaction_id") == "t2", "2021-01-01 11:00:00").otherwise(
            F.col("transaction_date")
        ),
    ).withColumn(
        "amount",
        F.when(F.col("transaction_id") == "t3", "7,50").otherwise(F.col("amount")),
    )
    replayed = typed_transactions(repaired)
    rows = {r["trans_id"]: r["amt"] for r in replayed.collect()}
    assert rows == {"t2": Decimal("10.00"), "t3": Decimal("7.50")}


def test_quarantine_reject_of_double_bad_row_lists_both_reasons(spark, tmp_path):
    from etl_process_spark.pipeline.loaders import (
        quarantine_transactions,
        stage_transactions,
    )

    p = tmp_path / "transactions_02012021.txt"
    p.write_text(
        "transaction_id;transaction_date;amount;card_num;oper_type;oper_result;terminal\n"
        "t9;bad;worse;C9;PAYMENT;SUCCESS;T9\n"
    )
    clean, rejects = quarantine_transactions(stage_transactions(spark, str(p)))
    assert clean.count() == 0
    [r] = rejects.collect()
    assert r["reject_reasons"] == [
        "unparseable_transaction_date",
        "unparseable_amount",
    ]


def test_jsonl_and_orc_source_roundtrips(spark, tmp_path):
    """Source-format breadth: the same events rows survive parquet ->
    JSONL and parquet -> ORC round trips bit-identically (ORC is the
    other columnar format Spark ships natively; JSONL is the crawl/API
    interchange format). JSONL needs the explicit schema — its types
    would otherwise widen per inference pass."""
    from etl_process_spark.queries.registry import tbl
    from etl_process_spark.sources.readers import read_jsonl

    ev = tbl(spark, "/root/testdata/sf0.001", "events")
    canon = sorted(map(tuple, ev.collect()))

    jdir = str(tmp_path / "events_jsonl")
    # default JSON timestampFormat truncates to milliseconds — pin a
    # microsecond pattern on BOTH sides or the roundtrip silently lossy
    micros_fmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
    ev.write.option("timestampFormat", micros_fmt).json(jdir)
    got_j = read_jsonl(
        spark, jdir,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
        timestampFormat=micros_fmt,
    ).select(*ev.columns)
    assert sorted(map(tuple, got_j.collect())) == canon

    odir = str(tmp_path / "events_orc")
    ev.write.orc(odir)
    got_o = spark.read.orc(odir).select(*ev.columns)
    assert sorted(map(tuple, got_o.collect())) == canon

    # corrupt JSONL line -> PERMISSIVE null row, not a failed scan
    bad = tmp_path / "bad.jsonl"
    bad.write_text('{"event_id": 1, "ts": "2024-01-01 00:00:00"}\nNOT JSON\n')
    parsed = read_jsonl(
        spark, str(bad), "event_id long, ts timestamp, _corrupt_record string"
    )
    rows = parsed.collect()
    assert len(rows) == 2
    assert sum(r["_corrupt_record"] is not None for r in rows) == 1

def test_jsonl_auto_appends_corrupt_record_column(spark, tmp_path):
    """An explicit schema WITHOUT _corrupt_record still captures bad
    lines (the column is appended automatically) — without it Spark
    silently turns corrupt lines into all-NULL rows."""
    from etl_process_spark.sources.readers import read_jsonl

    bad = tmp_path / "bad2.jsonl"
    bad.write_text('{"event_id": 7}\nNOT JSON\n')
    parsed = read_jsonl(spark, str(bad), "event_id long")
    assert "_corrupt_record" in parsed.columns
    rows = parsed.collect()
    assert len(rows) == 2
    assert sum(r["_corrupt_record"] is not None for r in rows) == 1
    assert {r["event_id"] for r in rows} == {7, None}


def test_jdbc_incremental_options_pushdown_and_partitioning():
    """Reference S3 (cards.py:50-56): the watermark predicate must be a
    dbtable subquery (executes inside the source DB) and the partitioned
    read must carry all four range-split options."""
    from etl_process_spark.sources.readers import jdbc_incremental_options

    opts = jdbc_incremental_options(
        "jdbc:postgresql://db:5432/bank",
        "info.transactions",
        "2024-01-15 00:00:00",
        partition_col="transaction_id",
        num_partitions=8,
        lower_bound=0,
        upper_bound=1_000_000,
    )
    assert opts["dbtable"] == (
        "(SELECT * FROM info.transactions WHERE "
        "coalesce(update_dt, create_dt) > '2024-01-15 00:00:00') AS src"
    )
    assert opts["partitionColumn"] == "transaction_id"
    assert opts["lowerBound"] == "0"
    assert opts["upperBound"] == "1000000"
    assert opts["numPartitions"] == "8"
    assert opts["fetchsize"] == "10000"

    # unpartitioned pull: no range options at all
    plain = jdbc_incremental_options(
        "jdbc:postgresql://db:5432/bank", "t", "2024-01-01",
        watermark_expr="update_dt",
    )
    assert "partitionColumn" not in plain
    assert plain["dbtable"] == "(SELECT * FROM t WHERE update_dt > '2024-01-01') AS src"

    # partition column without bounds is a hard error, not a 1-task read
    import pytest as _pytest
    with _pytest.raises(ValueError):
        jdbc_incremental_options(
            "jdbc:x", "t", "2024-01-01", partition_col="id"
        )


def test_compaction_with_clustering_restores_skipping(spark, tmp_path):
    """compact(cluster_by=...) is OPTIMIZE...ZORDER-style maintenance:
    the same rewrite that fixes file-count hygiene re-sorts the data, so
    per-file value ranges come out disjoint and stats-based skipping —
    which random appends had destroyed — works again."""
    import glob as g

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from etl_process_spark.sources.tables import TableCatalog

    cat = TableCatalog(spark, str(tmp_path / "wh"))
    # append value-interleaved batches: every file spans the whole id
    # range, so min/max stats prune nothing
    for batch in range(5):
        cat.append(
            "ev",
            spark.range(0, 500).filter(F.col("id") % 5 == batch).repartition(4),
        )
    n_after = cat.compact("ev", target_file_bytes=2 * 1024, cluster_by=["id"])
    assert n_after >= 2  # multiple files, so disjointness is non-vacuous

    [live] = cat._current_dirs("ev")
    files = sorted(g.glob(live + "/*.parquet"))
    ranges = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        if md.num_rows == 0:
            continue
        idx = md.schema.names.index("id")
        mins = [md.row_group(i).column(idx).statistics.min
                for i in range(md.num_row_groups)]
        maxs = [md.row_group(i).column(idx).statistics.max
                for i in range(md.num_row_groups)]
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi <= lo, "clustered compaction must yield disjoint ranges"
    # data intact
    assert sorted(r["id"] for r in cat.read("ev").collect()) == list(range(500))


def test_catalog_compaction_stress_200_files(spark, tmp_path):
    """~200-small-file stress (round-5 verdict item): an accreted append
    table compacts to exactly the byte-target-derived file count, reads
    scan ONLY the live version directory (version pruning at the file
    listing level — a reader never pays for history), and vacuum drops
    the stale snapshots while the live read keeps working."""
    import os

    from pyspark.sql import functions as F

    from etl_process_spark.sources.tables import TableCatalog

    cat = TableCatalog(spark, str(tmp_path / "wh"))
    df = spark.range(0, 20_000).select(
        F.col("id"),
        (F.col("id") % 97).alias("k"),
        F.md5(F.col("id").cast("string")).alias("payload"),
    )
    # one accreting append sink: 50 files, then 3 more appends of 50 -> 200
    cat.append("ev", df.repartition(50))
    for _ in range(3):
        cat.append("ev", df.repartition(50))

    live = cat._current_dirs("ev")
    n_before = sum(
        1 for d in live for f in os.listdir(d) if f.endswith(".parquet")
    )
    assert n_before == 200

    total_bytes = sum(
        os.path.getsize(os.path.join(d, f))
        for d in live
        for f in os.listdir(d)
        if f.endswith(".parquet")
    )
    target = 1024 * 1024
    n_after = cat.compact("ev", target_file_bytes=target)
    expected = max(1, -(-total_bytes // target))
    assert n_after == expected, (n_before, total_bytes, n_after, expected)
    assert n_after < n_before / 10

    # row fidelity across the rewrite
    assert cat.read("ev").count() == 80_000

    # version pruning: the scan must list files ONLY from the live
    # (post-compaction) version directory — history costs readers nothing
    [live_after] = cat._current_dirs("ev")
    assert live_after not in live
    scanned = cat.read("ev").inputFiles()
    assert scanned and all(live_after in f for f in scanned)
    assert not any(d + "/" in f for d in live for f in scanned)

    # vacuum drops the stale 200-file snapshot; live read unaffected
    versions = cat.versions("ev")
    assert len(versions) == 2
    dropped = cat.vacuum("ev", keep_last=1)
    assert dropped == versions[:-1]
    assert cat.read("ev").count() == 80_000
    with pytest.raises(FileNotFoundError):
        cat.read_version("ev", dropped[0])


def test_catalog_append_segment_log(spark, tmp_path):
    """Segment-log tables: O(segment) writes with one atomic pointer
    swap each, union reads, idempotent per-segment replay, and
    compaction that folds the log while still acknowledging committed
    segment ids (the streaming epoch-replay guard)."""
    from etl_process_spark.sources.tables import TableCatalog

    cat = TableCatalog(spark, str(tmp_path / "log_cat"))
    assert not cat.exists("t")
    assert not cat.has_segment("t", 0)

    cat.append_segment("t", spark.range(0, 5).toDF("id"), 0)
    cat.append_segment("t", spark.range(5, 8).toDF("id"), 1)
    assert cat.exists("t")
    assert cat.segment_count("t") == 2
    assert cat.has_segment("t", 0) and cat.has_segment("t", 1)
    assert not cat.has_segment("t", 2)
    assert sorted(r["id"] for r in cat.read("t").collect()) == list(range(8))

    # replaying a committed segment id writes nothing — no duplicate rows
    cat.append_segment("t", spark.range(5, 8).toDF("id"), 1)
    assert cat.segment_count("t") == 2
    assert sorted(r["id"] for r in cat.read("t").collect()) == list(range(8))

    # compaction: one directory, same rows, committed ids still acked
    cat.compact("t")
    assert len(cat._current_dirs("t")) == 1
    assert cat.has_segment("t", 0) and cat.has_segment("t", 1)
    assert not cat.has_segment("t", 2)
    assert sorted(r["id"] for r in cat.read("t").collect()) == list(range(8))

    # the log keeps growing after compaction; reads union old + new
    cat.append_segment("t", spark.range(8, 10).toDF("id"), 2)
    assert cat.has_segment("t", 2)
    assert sorted(r["id"] for r in cat.read("t").collect()) == list(range(10))

    # plain overwrite subsumes the whole log and keeps acking history
    cat.overwrite("t", spark.range(0, 3).toDF("id"))
    assert cat.has_segment("t", 2) and cat.has_segment("t", 0)
    assert sorted(r["id"] for r in cat.read("t").collect()) == [0, 1, 2]
    assert _pointer_keys(cat, "t") == POINTER_KEYS

    # a gapped id stays uncommitted through a compaction
    cat.append_segment("g", spark.range(0, 2).toDF("id"), 0)
    cat.append_segment("g", spark.range(2, 4).toDF("id"), 2)
    assert _pointer_keys(cat, "g") == POINTER_KEYS
    cat.compact("g")
    assert _pointer_keys(cat, "g") == POINTER_KEYS
    assert cat.has_segment("g", 0) and cat.has_segment("g", 2)
    assert not cat.has_segment("g", 1)

    # vacuum removes the segment directories the compaction folded away
    cat.vacuum("g", keep_last=1)
    assert not [d for d in os.listdir(cat.root) if d.startswith("g_seg")]
    assert sorted(r["id"] for r in cat.read("g").collect()) == [0, 1, 2, 3]
    assert cat.has_segment("g", 0) and cat.has_segment("g", 2)

    # a partitioned rewrite keeps the committed ids acked
    cat.append_segment("p", spark.range(0, 4).toDF("id"), 0)
    cat.write_partitioned(
        "p", spark.range(0, 4).withColumn("k", F.col("id") % 2), ["k"]
    )
    assert _pointer_keys(cat, "p") == POINTER_KEYS
    assert cat.has_segment("p", 0)
    assert sorted(r["id"] for r in cat.read("p").collect()) == [0, 1, 2, 3]

    cat.write_sorted("p", spark.range(0, 4).toDF("id"), ["id"], 2)
    assert _pointer_keys(cat, "p") == POINTER_KEYS
    assert cat.has_segment("p", 0)


def test_catalog_long_log_through_compactions(spark, tmp_path):
    """A long append stream whose caller compacts at a fixed cadence keeps
    every row and every committed id across the folds, ``vacuum`` after a
    fold leaves only the live directory, and the pointer does not grow
    with contiguous ids."""
    from etl_process_spark.sources.tables import TableCatalog

    cat = TableCatalog(spark, str(tmp_path / "wh"))
    n, cadence = 40, 16
    for i in range(n):
        cat.append("a", spark.range(i, i + 1, numPartitions=1))
        cat.append_segment("s", spark.range(i, i + 1, numPartitions=1), i)
        for name in ("a", "s"):
            assert cat.segment_count(name) <= cadence
            if cat.segment_count(name) == cadence:
                cat.compact(name)
                cat.vacuum(name, keep_last=1)
                assert cat.segment_count(name) == 1
                assert not [
                    d for d in os.listdir(cat.root)
                    if d.startswith(f"{name}_seg")
                ]
    for name in ("a", "s"):
        assert sorted(r["id"] for r in cat.read(name).collect()) == list(range(n))
    # the first append created "a" by overwrite; the other n - 1 are ids
    assert all(cat.has_segment("a", i) for i in range(n - 1))
    assert not cat.has_segment("a", n - 1)
    assert all(cat.has_segment("s", i) for i in range(n))
    assert cat._read_pointer("s")["committed"] == [[0, n - 1]]


def _jobs(spark, group, fn):
    """(result of ``fn()``, number of Spark jobs it ran in job group ``group``)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_catalog_read_runs_no_job(spark, tmp_path):
    """The pointer carries the schema, so reading a committed table plans
    without a schema-inference job, also for a partitioned table."""
    from etl_process_spark.sources.tables import TableCatalog

    cat = TableCatalog(spark, str(tmp_path / "wh"))
    cat.overwrite("t", spark.range(3).withColumn("s", F.col("id").cast("string")))
    cat.append("t", spark.range(3, 5).withColumn("s", F.lit("x")))
    cat.write_partitioned(
        "p", spark.range(4).withColumn("k", (F.col("id") % 2).cast("string")), ["k"]
    )
    for name, cols in (("t", ["id", "s"]), ("p", ["id", "k"])):
        df, n_jobs = _jobs(spark, f"read_{name}", lambda name=name: cat.read(name))
        assert n_jobs == 0, name
        assert df.columns == cols  # partition columns last
        assert all(f.nullable for f in df.schema.fields)
    assert sorted(r["id"] for r in cat.read("t").collect()) == list(range(5))
    assert {(r["id"], r["k"]) for r in cat.read("p").collect()} == {
        (0, "0"), (1, "1"), (2, "0"), (3, "1")
    }


def test_catalog_commit_returns_stats(spark, tmp_path):
    """Every commit returns the row count and the min/max of each date and
    timestamp column of the rows it wrote; the pointer keeps them per live
    directory, and ``column_max`` answers from them without a job."""
    from etl_process_spark.sources.tables import TableCatalog

    cat = TableCatalog(spark, str(tmp_path / "wh"))
    schema = "id long, ts timestamp, d date, s string"
    first = cat.append("t", spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 2, 3, 4, 5), dt.date(2024, 1, 2), "a")], schema))
    assert first == {
        "rows": 1,
        "min": {"ts": dt.datetime(2024, 1, 2, 3, 4, 5), "d": dt.date(2024, 1, 2)},
        "max": {"ts": dt.datetime(2024, 1, 2, 3, 4, 5), "d": dt.date(2024, 1, 2)},
    }
    stats = cat.append("t", spark.createDataFrame(
        [(2, dt.datetime(2024, 1, 5, 0, 0, 0, 123456), dt.date(2024, 1, 1), "b"),
         (3, dt.datetime(2024, 1, 3), None, None),
         (4, None, dt.date(2024, 2, 1), "c")], schema))
    assert stats == {
        "rows": 3,
        "min": {"ts": dt.datetime(2024, 1, 3), "d": dt.date(2024, 1, 1)},
        "max": {"ts": dt.datetime(2024, 1, 5, 0, 0, 0, 123456), "d": dt.date(2024, 2, 1)},
    }
    empty = cat.append("t", spark.createDataFrame([], schema))
    assert empty == {"rows": 0, "min": {"ts": None, "d": None},
                     "max": {"ts": None, "d": None}}
    assert len(cat._read_pointer("t")["stats"]) == len(cat._current_dirs("t")) == 3

    mx, n_jobs = _jobs(spark, "column_max", lambda: (
        cat.column_max("t", "ts"), cat.column_max("t", "d")))
    assert mx == (dt.datetime(2024, 1, 5, 0, 0, 0, 123456), dt.date(2024, 2, 1))
    assert n_jobs == 0
    assert cat.overwrite("t", spark.range(2))["rows"] == 2


def test_catalog_append_merges_schema_by_name(spark, tmp_path):
    """An append's pointer schema is the old one merged by column name with
    the new frame's, new columns last; a type conflict raises before the
    pointer moves."""
    from etl_process_spark.sources.tables import TableCatalog

    cat = TableCatalog(spark, str(tmp_path / "wh"))
    cat.overwrite("t", spark.createDataFrame([(1, "a")], "id long, name string"))
    cat.append("t", spark.createDataFrame([("extra", 2)], "note string, id long"))
    df = cat.read("t")
    assert df.columns == ["id", "name", "note"]
    assert sorted(map(tuple, df.collect()), key=repr) == sorted(
        [(1, "a", None), (2, None, "extra")], key=repr
    )
    dirs = cat._current_dirs("t")
    with pytest.raises(ValueError, match="name"):
        cat.append("t", spark.createDataFrame([(3, 4)], "id long, name int"))
    assert cat._current_dirs("t") == dirs


def test_catalog_reads_older_pointer_formats(spark, tmp_path):
    """A warehouse written before the one pointer format still works: a
    ``{"dir"}`` pointer and a ``{"dirs", "segments", "compacted_through"}``
    segment log read, acknowledge the ids they recorded, and take the one
    format at their next commit. A pointer without ``schema``/``stats``
    reads by inference, ``column_max`` over it runs the aggregate, and its
    next commit writes both keys."""
    from etl_process_spark.sources.tables import TableCatalog

    root = tmp_path / "wh"
    cat = TableCatalog(spark, str(root))

    def put(name, payload):
        with open(root / f"{name}.version.json", "w") as fh:
            json.dump(payload, fh)

    spark.range(3).write.parquet(str(root / "t_v0"))
    put("t", {"dir": str(root / "t_v0")})
    assert cat.read("t").count() == 3
    assert not cat.has_segment("t", 0)
    cat.append("t", spark.range(3, 5))
    assert _pointer_keys(cat, "t") == POINTER_KEYS
    assert sorted(r["id"] for r in cat.read("t").collect()) == list(range(5))
    assert cat.read_version("t", 0).count() == 3

    spark.range(0, 2).write.parquet(str(root / "s_v0"))
    spark.range(2, 4).write.parquet(str(root / "s_seg00000005"))
    put("s", {
        "dirs": [str(root / "s_v0"), str(root / "s_seg00000005")],
        "segments": {"5": str(root / "s_seg00000005")},
        "compacted_through": 3,
    })
    assert [cat.has_segment("s", i) for i in range(7)] == [
        True, True, True, True, False, True, False
    ]
    cat.append_segment("s", spark.range(4, 5), 4)
    assert _pointer_keys(cat, "s") == POINTER_KEYS
    assert cat._read_pointer("s")["committed"] == [[0, 5]]
    cat.compact("s")
    cat.vacuum("s", keep_last=1)
    assert not [d for d in os.listdir(root) if d.startswith("s_seg")]
    assert sorted(r["id"] for r in cat.read("s").collect()) == list(range(5))

    # a pointer in the one format, from before schema and stats
    ts = [(i, dt.datetime(2024, 1, 1 + i)) for i in range(3)]
    spark.createDataFrame(ts, "id long, ts timestamp").write.parquet(str(root / "f_seg00000000"))
    put("f", {"dirs": [str(root / "f_seg00000000")], "committed": [[0, 0]]})
    df, n_jobs = _jobs(spark, "older_read", lambda: cat.read("f"))
    assert n_jobs >= 1  # schema inference
    assert df.columns == ["id", "ts"]
    mx, n_jobs = _jobs(spark, "older_max", lambda: cat.column_max("f", "ts"))
    assert mx == dt.datetime(2024, 1, 3) and n_jobs >= 1
    stats = cat.append("f", spark.createDataFrame(
        [(9, dt.datetime(2024, 2, 1))], "id long, ts timestamp"))
    assert stats["rows"] == 1 and stats["max"]["ts"] == dt.datetime(2024, 2, 1)
    assert _pointer_keys(cat, "f") == POINTER_KEYS
    assert cat._read_pointer("f")["stats"][0] is None  # the older directory
    # an older directory without stats keeps column_max on the aggregate
    assert cat.column_max("f", "ts") == dt.datetime(2024, 2, 1)
    _, n_jobs = _jobs(spark, "older_read_after", lambda: cat.read("f"))
    assert n_jobs == 0
    assert sorted(r["id"] for r in cat.read("f").collect()) == [0, 1, 2, 9]
    cat.overwrite("f", cat.read("f"))
    mx, n_jobs = _jobs(spark, "older_max_after", lambda: cat.column_max("f", "ts"))
    assert mx == dt.datetime(2024, 2, 1) and n_jobs == 0
