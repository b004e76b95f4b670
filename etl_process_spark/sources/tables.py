"""Warehouse table catalog — parquet-backed named tables.

The reference's warehouse is 16 Postgres tables (main.ddl:1-137). Here each
table is a list of parquet directories under a root, read/written through
one catalog object so every stage shares the same paths and write
discipline.

One commit protocol (SURVEY §7 "hard parts" (a)): Spark cannot atomically
overwrite a directory it is concurrently reading, so no write touches a
live directory. Every write goes through ``_commit``: it lands in a new
directory ``{name}_{tag}``, then one atomic swap of the pointer
``{name}.version.json`` makes it visible::

    {"dirs": [...], "committed": [[lo, hi], ...],
     "schema": <StructType JSON>,
     "stats": [{"rows": n, "min": {col: iso}, "max": {col: iso}}, ...]}

A replacing write (tag ``v<n>``) makes its directory the only live one and
keeps it as a snapshot for ``read_version``; an appending write (tag
``seg<id>``) adds its directory. Readers get snapshot isolation between
runs, the parity analog of the reference's per-script transactional commit
(transaction.py:113). ``committed`` holds the appended segment ids as
merged ranges (constant size for contiguous ids, exact for gapped ones)
and survives replacing writes, so ``has_segment`` still acknowledges
segments a compaction folded away.

The pointer is the table's metadata, as Delta's ``metaData`` action is:
``schema`` is what a read returns (every column nullable, partition
columns last; an append merges it by column name with the old one, as
``mergeSchema`` would), and ``stats[i]`` holds the row count and the
min/max of every date and timestamp column of ``dirs[i]``, observed on the
commit's own write. So ``read`` runs no Spark job (it passes the schema to
``.schema()`` instead of inferring it), and ``column_max`` answers from
the pointer. A pointer from before these keys (``{"dir"}``, a segment log,
or one without ``schema``/``stats``) reads by inference, and its next
commit writes the keys. Every append adds a live directory until a caller
runs ``compact``; past Spark's partition-discovery threshold (32 root
paths) every read runs an extra listing job.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import re
import shutil
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    DateType,
    MapType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)


def _with_id(ranges: list[list[int]], sid: int) -> list[list[int]]:
    """Sorted, merged ``[lo, hi]`` ranges with ``sid`` added."""
    out: list[list[int]] = []
    for lo, hi in sorted([*ranges, [sid, sid]]):
        if out and lo <= out[-1][1] + 1:
            out[-1][1] = max(out[-1][1], hi)
        else:
            out.append([lo, hi])
    return out


def _acked(ranges: list[list[int]], sid: int) -> bool:
    return any(lo <= sid <= hi for lo, hi in ranges)


def _parquet_files(d: str) -> list[str]:
    return [
        os.path.join(dirpath, f)
        for dirpath, _, files in os.walk(d)
        for f in files
        if f.endswith(".parquet")
    ]


def _nullable(t: DataType) -> DataType:
    """``t`` with every field and element nullable, as a parquet write
    stores it."""
    if isinstance(t, StructType):
        return StructType([
            StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in t.fields
        ])
    if isinstance(t, ArrayType):
        return ArrayType(_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    return t


def _merged(old: StructType, new: StructType) -> StructType:
    """``old`` with ``new``'s columns merged in by name, new ones last;
    a column both carry with different types raises, as ``mergeSchema``
    does."""
    by_name = {f.name: f for f in new.fields}
    fields = []
    for f in old.fields:
        g = by_name.pop(f.name, None)
        if g is None or g.dataType == f.dataType:
            fields.append(f)
        elif isinstance(f.dataType, StructType) and isinstance(g.dataType, StructType):
            fields.append(StructField(f.name, _merged(f.dataType, g.dataType), True, f.metadata))
        else:
            raise ValueError(
                f"column {f.name!r}: cannot merge {f.dataType.simpleString()} "
                f"with {g.dataType.simpleString()}"
            )
    return StructType(fields + list(by_name.values()))


def _observed(df: DataFrame, schema: StructType) -> tuple[DataFrame, Callable[[], dict]]:
    """``df`` with one ``observe`` of its row count and the min/max of its
    date and timestamp columns, and a callable that returns them as
    ``{"rows": n, "min": {col: v}, "max": {col: v}}`` after an action."""
    cols = [f.name for f in schema.fields
            if isinstance(f.dataType, (DateType, TimestampType, TimestampNTZType))]
    refs = [F.col("`" + c.replace("`", "``") + "`") for c in cols]
    obs = Observation()
    df = df.observe(obs, F.count(F.lit(1)).alias("rows"),
                    *[F.min(r).alias(f"min{i}") for i, r in enumerate(refs)],
                    *[F.max(r).alias(f"max{i}") for i, r in enumerate(refs)])

    def stats() -> dict:
        got = obs.get
        return {"rows": got["rows"], **{
            k: {c: got[f"{k}{i}"] for i, c in enumerate(cols)} for k in ("min", "max")
        }}

    return df, stats


def _iso(stats: dict) -> dict:
    """``stats`` as the pointer stores them: dates and times as ISO text."""
    return {"rows": stats["rows"], **{
        k: {c: None if v is None else str(v) for c, v in stats[k].items()}
        for k in ("min", "max")
    }}


class TableCatalog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _pointer(self, name: str) -> str:
        return os.path.join(self.root, f"{name}.version.json")

    def _read_pointer(self, name: str) -> dict | None:
        ptr = self._pointer(name)
        if not os.path.exists(ptr):
            return None
        with open(ptr) as fh:
            p = json.load(fh)
        if "committed" in p:
            return p
        # an older pointer, {"dir"} or {"dirs", "segments", "compacted_through"}:
        # read as the ids it acknowledged; the next commit rewrites it
        thru = p.get("compacted_through", -1)
        committed = [[0, thru]] if thru >= 0 else []
        for sid in p.get("segments", {}):
            committed = _with_id(committed, int(sid))
        dirs = p["dirs"] if "dirs" in p else [p["dir"]]
        return {"dirs": dirs, "committed": committed}

    def _current_dirs(self, name: str) -> list[str] | None:
        p = self._read_pointer(name)
        return None if p is None else p["dirs"]

    def _commit(
        self, name: str, df: DataFrame, tag: str, *, replace: bool,
        segment_id: int | None = None, partition_cols: list[str] | None = None,
    ) -> dict:
        """The one write path: write ``df`` to the new directory
        ``{name}_{tag}``, then swap the pointer so that directory replaces
        the live ones (``replace``) or joins them, with ``segment_id``
        added to the committed ids. Returns the directory's stats, which
        one ``observe`` collects on the write itself."""
        old = self._read_pointer(name) or {"dirs": [], "committed": []}
        new_dir = os.path.join(self.root, f"{name}_{tag}")
        parts = partition_cols or []
        written = _nullable(StructType(
            [f for f in df.schema.fields if f.name not in parts]
            + [df.schema[c] for c in parts]
        ))
        schema = written
        if not replace and old["dirs"]:
            prior = (
                StructType.fromJson(old["schema"]) if "schema" in old
                else self.spark.read.option("mergeSchema", "true").parquet(*old["dirs"]).schema
            )
            schema = _merged(prior, written)
        df, collected = _observed(df, written)
        writer = df.write.mode("overwrite")
        if parts:
            writer = writer.partitionBy(*parts)
        writer.parquet(new_dir)
        # observed at the top of the written plan, where the metrics arrive
        # even when AQE empties a join below (quality.py)
        stats = collected()
        committed = old["committed"]
        if segment_id is not None:
            committed = _with_id(committed, segment_id)
        if replace:
            dirs, all_stats = [new_dir], [_iso(stats)]
        else:
            dirs = [*old["dirs"], new_dir]
            all_stats = [*old.get("stats", [None] * len(old["dirs"])), _iso(stats)]
        tmp = self._pointer(name) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"dirs": dirs, "committed": committed,
                       "schema": schema.jsonValue(), "stats": all_stats}, fh)
        os.replace(tmp, self._pointer(name))
        return stats

    def exists(self, name: str) -> bool:
        return self._current_dirs(name) is not None

    def read(self, name: str) -> DataFrame:
        p = self._read_pointer(name)
        if p is None:
            raise FileNotFoundError(f"table {name} not initialized under {self.root}")
        reader = self.spark.read
        if "schema" in p:
            reader = reader.schema(StructType.fromJson(p["schema"]))
        return reader.parquet(*p["dirs"])

    def column_max(self, name: str, col: str) -> Any:
        """Largest value of the date or timestamp column ``col``, None for
        an empty table. Answered from the pointer's stats; a pointer that
        lacks them for some live directory runs the aggregate instead."""
        p = self._read_pointer(name)
        if p is None:
            raise FileNotFoundError(f"table {name} not initialized under {self.root}")
        stats = p.get("stats", [None])
        if any(st is None for st in stats):
            return self.read(name).agg(F.max(col)).first()[0]
        parse = (dt.date if isinstance(StructType.fromJson(p["schema"])[col].dataType, DateType)
                 else dt.datetime).fromisoformat
        return max((parse(st["max"][col]) for st in stats if st["max"][col] is not None),
                   default=None)

    def _next_version(self, name: str) -> int:
        vs = self.versions(name)
        return (vs[-1] + 1) if vs else 0

    def overwrite(self, name: str, df: DataFrame) -> dict:
        """Atomic table rewrite: one new version directory replaces every
        live one. Committed segment ids stay acknowledged. Returns the
        commit's stats."""
        return self._commit(name, df, f"v{self._next_version(name)}", replace=True)

    def append_segment(self, name: str, df: DataFrame, segment_id: int) -> dict | None:
        """Append-only log write: persist ``df`` as segment ``segment_id``
        and commit it with one atomic pointer swap — O(segment) bytes
        written per call instead of ``overwrite``'s O(table) rewrite.

        Idempotent per segment id: a committed id is a no-op, and a crash
        before the swap leaves an orphan directory that the replay
        rewrites. Readers see the union of all live directories through
        ``read``. Periodic ``compact`` (or ``overwrite``) folds the log
        back to one directory. Returns the commit's stats, or None for a
        committed id.
        """
        sid = int(segment_id)
        if self.has_segment(name, sid):
            return None
        return self._commit(name, df, f"seg{sid:08d}", replace=False, segment_id=sid)

    def has_segment(self, name: str, segment_id: int) -> bool:
        """True iff ``segment_id`` was committed (it may since have been
        folded by a replacing write) — the streaming sink's epoch-replay
        guard."""
        p = self._read_pointer(name)
        return p is not None and _acked(p["committed"], int(segment_id))

    def segment_count(self, name: str) -> int:
        return len(self._current_dirs(name) or [])

    def append(self, name: str, df: DataFrame) -> dict:
        """Append sink (reference S8, INSERT...SELECT): a new segment under
        the next free id; a missing table is created by ``overwrite``.
        Returns the commit's stats: ``rows``, and ``min``/``max`` of each
        date or timestamp column (None when the write had no rows)."""
        p = self._read_pointer(name)
        if p is None:
            return self.overwrite(name, df)
        committed = p["committed"]
        return self.append_segment(name, df, committed[-1][1] + 1 if committed else 0)

    def write_bucketed(
        self,
        name: str,
        df: DataFrame,
        bucket_cols: list[str],
        n_buckets: int,
        sort_cols: list[str] | None = None,
    ) -> None:
        """Bucketed (and optionally sorted) table — the co-located join path.

        Two tables bucketed on the same key with the same bucket count join
        WITHOUT a shuffle (each bucket pair joins locally); bucket-sorted
        data also skips the sort of a sort-merge join. This is the standing
        answer for a fact table joined repeatedly on one key at 100 TB: pay
        the shuffle once at write time, never again at read time.

        Bucketing metadata lives in the session catalog (``saveAsTable``
        with an explicit path — Spark does not read bucket layout from bare
        parquet directories).
        """
        writer = (
            df.write.mode("overwrite")
            .format("parquet")
            .bucketBy(n_buckets, *bucket_cols)
            .option("path", os.path.join(self.root, f"{name}__bucketed"))
        )
        if sort_cols:
            writer = writer.sortBy(*sort_cols)
        writer.saveAsTable(name)

    def read_bucketed(self, name: str) -> DataFrame:
        """Read a bucketed table through the catalog (keeps bucket info)."""
        return self.spark.table(name)

    def write_partitioned(
        self, name: str, df: DataFrame, partition_cols: list[str]
    ) -> None:
        """Hive-style partitioned table (dt=.../ directories), committed
        like ``overwrite``.

        Partition pruning is the cluster-scale form of the reference's
        driver-side file skipping (S5/transaction.py:51 — don't read files
        ≤ watermark): a predicate on the partition column eliminates whole
        directories at planning time, so a daily incremental query over a
        100 TB fact table reads one day's files, not all of them. Choose
        coarse, low-cardinality keys (a date, a tenant) — one directory and
        ≥1 file per value; a high-cardinality partition key degenerates
        into millions of tiny files and kills the scan.
        """
        self._commit(
            name, df, f"v{self._next_version(name)}", replace=True,
            partition_cols=partition_cols,
        )

    def write_sorted(
        self, name: str, df: DataFrame, sort_cols: list[str], n_files: int
    ) -> None:
        """Range-partitioned, sorted-within-file layout (data clustering).

        ``repartitionByRange`` gives each output file a DISJOINT value
        range of ``sort_cols`` (sampled range boundaries, one shuffle);
        ``sortWithinPartitions`` orders rows inside each file, so every
        parquet row group carries tight min/max statistics. A predicate
        on the sort column then skips whole files and row groups at scan
        time — the storage-layout half of predicate pushdown, and the
        difference between reading 100 TB and reading the one date range
        a query asks for. This is the write-side complement of
        ``write_partitioned``: partitioning prunes by directory on
        coarse keys; sorted layout prunes by stats on continuous ones
        (timestamps, prices) where per-value directories are infeasible.
        """
        self.overwrite(
            name,
            df.repartitionByRange(n_files, *sort_cols).sortWithinPartitions(
                *sort_cols
            ),
        )

    def compact(
        self,
        name: str,
        target_file_bytes: int = 128 * 1024 * 1024,
        cluster_by: list[str] | None = None,
    ) -> int:
        """Rewrite a table into ~target-sized files in one directory;
        returns the new file count.

        Append sinks (S8) and streaming sinks accrete small files and
        directories; at scale a scan's task count — and the namenode's
        metadata load — is file-bound, so periodic compaction is standing
        maintenance for any append table. Sizing uses the CURRENT on-disk
        bytes (true post-compression size), not row counts; the rewrite
        is an ``overwrite``, so readers see either the old or the new
        layout, never a mix. It reads with ``mergeSchema``, so a column
        that only later appends carry survives the fold.

        ``cluster_by`` re-CLUSTERS while compacting (the OPTIMIZE ...
        ZORDER BY maintenance verb): files get disjoint sort-key ranges
        + in-file order, so the rewrite that was already being paid for
        file-count hygiene also restores stats-based data skipping that
        appends erode — pass a Z-order key (operators/zorder.py) to
        cluster on two dimensions at once.
        """
        ds = self._current_dirs(name)
        if ds is None:
            raise FileNotFoundError(f"table {name} not initialized under {self.root}")
        total = sum(os.path.getsize(f) for d in ds for f in _parquet_files(d))
        n_files = max(1, -(-total // int(target_file_bytes)))
        cur = self.spark.read.option("mergeSchema", "true").parquet(*ds)
        if cluster_by:
            cur = cur.repartitionByRange(n_files, *cluster_by).sortWithinPartitions(
                *cluster_by
            )
        else:
            cur = cur.repartition(n_files)
        self.overwrite(name, cur)
        [new_dir] = self._current_dirs(name)
        return len(_parquet_files(new_dir))

    def versions(self, name: str) -> list[int]:
        """All retained version numbers of a table, oldest first.

        Replacing writes never delete prior version directories — each
        rewrite is a full snapshot, so history is retained for free.
        """
        pat = re.compile(rf"^{re.escape(name)}_v(\d+)$")
        return sorted(
            int(m.group(1))
            for d in os.listdir(self.root)
            if (m := pat.match(d)) and os.path.isdir(os.path.join(self.root, d))
        )

    def read_version(self, name: str, version: int) -> DataFrame:
        """Time travel: read a specific retained snapshot of a table.

        The lakehouse pattern in miniature — an auditor re-runs last
        week's fraud report against the dimension table AS IT WAS, without
        restoring backups. (SCD2 gives row-level history inside a version;
        this gives table-level history across rewrites.)
        """
        d = os.path.join(self.root, f"{name}_v{version}")
        if not os.path.isdir(d):
            raise FileNotFoundError(
                f"table {name} has no version {version}; have {self.versions(name)}"
            )
        return self.spark.read.parquet(d)

    def vacuum(self, name: str, keep_last: int = 2) -> list[int]:
        """Drop all but the newest ``keep_last`` version directories, and
        the segment directories of committed ids that a replacing write
        folded away; returns the dropped version numbers. A live directory
        and the directory of an uncommitted id (a crashed write its replay
        will redo) are never dropped. Retention is the storage-cost
        counterweight to ``read_version`` — history is snapshots, so old
        versions cost full-table storage until vacuumed."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        p = self._read_pointer(name) or {"dirs": [], "committed": []}
        live = set(p["dirs"])
        dropped = []
        for v in self.versions(name)[:-keep_last]:
            d = os.path.join(self.root, f"{name}_v{v}")
            if d not in live:
                shutil.rmtree(d)
                dropped.append(v)
        seg = re.compile(rf"^{re.escape(name)}_seg(\d+)$")
        for f in os.listdir(self.root):
            d = os.path.join(self.root, f)
            m = seg.match(f)
            if m and d not in live and _acked(p["committed"], int(m.group(1))):
                shutil.rmtree(d)
        return dropped
