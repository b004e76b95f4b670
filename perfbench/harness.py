"""What every workload shares: the session it measures, per-operation
timing, between-operation hygiene, and output comparison."""

from __future__ import annotations

import contextlib
import json
import os
import time

from host import TreeMemory
from tracing import Tracer


class Bench:
    """One measured Spark session plus its counters."""

    def __init__(self, workload: str, tracer: Tracer, mem: TreeMemory):
        self.workload = workload
        self.tracer = tracer
        self.mem = mem
        self.spark = None
        self.leaked_rdds = 0
        self.leaked_plans = 0

    @contextlib.contextmanager
    def op(self, label: str, kind: str = "op"):
        """Time one operation. The traced run also tags its jobs with the
        job group ``<workload>:<label>`` and records an ``op`` span."""
        sc = self.spark.sparkContext
        if self.tracer.enabled:
            sc.setJobGroup(f"{self.workload}:{label}", label, False)
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op", label=label, kind=kind) as rec:
                yield rec
        finally:
            rec["seconds"] = time.perf_counter() - t0
            if self.tracer.enabled:
                sc.setLocalProperty("spark.jobGroup.id", None)
            self.mem.sample()

    def count_leaks(self) -> None:
        """What the last operation left behind: persisted RDDs and
        CacheManager entries (counted, never failed on)."""
        self.leaked_rdds += self.spark.sparkContext._jsc.getPersistentRDDs().size()
        cm = self.spark._jsparkSession.sharedState().cacheManager()
        self.leaked_plans += cm.cachedData().size()

    def clean(self) -> None:
        self.spark.catalog.clearCache()
        for rdd in list(self.spark.sparkContext._jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)


def corrupt(actual: dict, key: str) -> dict:
    """A deliberately wrong copy of an output: ``actual[key]`` loses its
    first row if it is a list, else is off by one."""
    bad = dict(actual)
    v = bad[key]
    if isinstance(v, list):
        if not v:
            raise ValueError(f"nothing to corrupt: {key} is empty")
        bad[key] = v[1:]
    else:
        bad[key] = v + 1
    return bad


def differences(actual: dict, reference: dict) -> list[str]:
    """Keys whose values differ (the output check)."""
    out = []
    for k in sorted(set(actual) | set(reference)):
        a, r = actual.get(k), reference.get(k)
        if a != r:
            if isinstance(a, list) and isinstance(r, list):
                out.append(f"{k}: {len(a)} rows vs {len(r)} expected")
            else:
                out.append(f"{k}: {str(a)[:120]} vs {str(r)[:120]} expected")
    return out


class Checker:
    """Counts operations attempted and failed, and proves on the first
    real check that a corrupted output would be counted as failed."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.selfcheck: bool | None = None

    def check(self, label: str, n_ops: int, actual: dict, reference: dict,
              result_key: str) -> bool:
        """``result_key`` names the operations' result (the rows), which
        the self-check corrupts."""
        self.attempted += n_ops
        diff = differences(actual, reference)
        if self.selfcheck is None:
            self.selfcheck = bool(differences(corrupt(actual, result_key), reference))
        if diff:
            self.failed += n_ops
            self.problems.append(f"{label}: " + "; ".join(diff[:5]))
        return not diff

    def error(self, label: str, n_ops: int, exc: BaseException) -> None:
        self.attempted += n_ops
        self.failed += n_ops
        self.problems.append(f"{label}: {exc!r}"[:400])


def catalog_space(root: str) -> dict:
    """Bytes on disk under a catalog root against the bytes its live
    pointers reference, and the number of live directories."""
    live_dirs: set[str] = set()
    for f in os.listdir(root):
        if f.endswith(".version.json"):
            with open(os.path.join(root, f)) as fh:
                p = json.load(fh)
            live_dirs.update(p["dirs"] if "dirs" in p else [p["dir"]])

    def size(path: str) -> int:
        return sum(os.path.getsize(os.path.join(d, f))
                   for d, _, files in os.walk(path) for f in files)

    live = sum(size(d) for d in live_dirs)
    return {"disk_bytes": size(root), "live_bytes": live, "live_dirs": len(live_dirs)}


def canon(rows, columns=None) -> list:
    """Rows as sorted tuples of strings (order-free comparison)."""
    out = []
    for r in rows:
        vals = [r[c] for c in columns] if columns else list(r)
        out.append(tuple("NULL" if v is None else str(v) for v in vals))
    return sorted(out)


def warm_engine(spark, root: str) -> None:
    """Engine warm-up, the same for every workload: a semicolon CSV read
    through the engine's reader, a join, a window and an aggregate,
    materialized through a noop sink."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from etl_process_spark.sources.readers import read_delimited

    os.makedirs(root, exist_ok=True)
    path = os.path.join(root, "warm.csv")
    with open(path, "w") as fh:
        fh.write("k;v\n")
        fh.writelines(f"{i % 17};{i}\n" for i in range(500))
    df = read_delimited(spark, path, ["k", "v"]).select(
        F.col("k").cast("int").alias("k"), F.col("v").cast("int").alias("v"))
    dim = spark.range(17).withColumnRenamed("id", "k")
    w = Window.partitionBy("k").orderBy("v")
    (df.join(dim, "k").withColumn("prev", F.lag("v").over(w))
       .groupBy("k").agg(F.sum("prev").alias("s"))
       .write.format("noop").mode("overwrite").save())
