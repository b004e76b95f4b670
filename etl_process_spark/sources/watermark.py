"""High-watermark metadata protocol (reference S10/A3, ``vean_meta_date``).

The reference keeps a per-table ``max_update_dt`` in a meta table
(main.ddl:133-137), read with a coalesce-to-epoch default
(transaction.py:31-40) and upserted after each load (transaction.py:95-108).
That watermark is what makes loads *incremental*: only rows/files newer than
it are pulled — the batch analog of streaming source offsets.

The meta table is tiny (one row per managed table), so it lives as a JSON
file maintained driver-side: involving a distributed engine in a
single-row read-modify-write would be the wrong tool. The *computation* of
new watermarks stays in Spark (``df.agg(max(...))`` — reference A1/A2).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import threading

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_process_spark.functions.scalar import WATERMARK_EPOCH


class WatermarkStore:
    """One JSON file of watermarks. ``set`` is safe across threads sharing
    the instance (the nightly loads run side by side); ``get`` needs no
    lock because ``set`` swaps the file in atomically."""

    def __init__(self, path: str):
        self.path = path
        self._lock = threading.Lock()

    def _load(self) -> dict[str, str]:
        if not os.path.exists(self.path):
            return {}
        with open(self.path) as fh:
            return json.load(fh)

    def get(self, table: str, default: str = WATERMARK_EPOCH) -> str:
        """Watermark as ISO string; coalesce-to-epoch default (A3)."""
        return self._load().get(table, default)

    def set(self, table: str, value: str | dt.datetime | dt.date) -> None:
        # read-modify-write of the whole file through one tmp path
        with self._lock:
            data = self._load()
            data[table] = str(value)
            tmp = self.path + ".tmp"
            with open(tmp, "w") as fh:
                json.dump(data, fh, indent=1)
            os.replace(tmp, self.path)

    def advance_from(self, table: str, df: DataFrame, ts_col) -> str | None:
        """Upsert watermark = max(ts_col) over the staged batch (A1/A2).

        The agg is the only value ever collected to the driver — a scalar,
        per SURVEY §4.2 ("never collect() except scalar watermarks").
        """
        row = df.agg(F.max(ts_col).alias("wm")).first()
        if row and row["wm"] is not None:
            new = str(row["wm"])
            if new > self.get(table):
                self.set(table, new)
            return new
        return None
