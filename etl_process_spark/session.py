"""SparkSession factory.

Centralizes the engine's session configuration so every entry point (tests,
bench, driver contract) runs with identical semantics:

* ``spark.sql.ansi.enabled=false`` — permissive casts (bad cast -> NULL),
  matching the reference's implicit Postgres coercion of staged varchar
  columns (reference ``py_scripts/transaction.py:74-77``).
* UTC session time zone — parquet timestamps compare bit-identically with
  the DuckDB oracle.
* AQE on (coalesce + skew-join) — runtime re-planning so the same code is
  right at sf0.001 and at 100 TB.
* shuffle partitions sized to the local core count; at cluster scale this is
  overridden by AQE's coalescing + the submitter's conf.

It also owns how long materialized data lives: engine code checkpoints
only through ``checkpoint`` and persists only through ``persisted``.
"""

from __future__ import annotations

import contextlib
import os
import re
import warnings
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def _default_driver_mem() -> str:
    """min(48g, ~40% of MemTotal) — the heap that survives 32 concurrent
    hash-aggregate tasks on a big box without OOM-killing a small one.
    SPARK_GRAFT_DRIVER_MEM overrides either way."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    total_gib = int(line.split()[1]) / (1024 * 1024)
                    return f"{max(1, min(48, int(total_gib * 0.4)))}g"
    except OSError:
        pass
    return "4g"


def _parse_mem(mem: str) -> int:
    """'4g'/'512m'-style JVM memory string -> bytes (0 if unparseable)."""
    m = re.fullmatch(r"(\d+)([kmgt]?)b?", mem.strip().lower())
    if not m:
        return 0
    return int(m.group(1)) * 1024 ** ("bkmgt".index(m.group(2) or "b"))


def _broadcast_threshold(driver_mem: str) -> int:
    """autoBroadcastJoinThreshold sized to the heap: heap/256 bytes,
    capped at 64MB (what a >=16g production executor gets), floored at
    4MB so tiny test heaps still broadcast genuine dimension tables."""
    heap = _parse_mem(driver_mem)
    if not heap:
        return 64 * 1024 * 1024
    return max(4 * 1024 * 1024, min(64 * 1024 * 1024, heap // 256))


def checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager)`` under the replica policy.

    Local checkpoint blocks (iterative loops, shared subtrees) live on ONE
    executor with no lineage to rebuild from, so losing that executor
    aborts the query (Spark's documented trade-off; the orchestrator's
    answer is a deterministic job retry, EXECUTORLOSS_DETERMINISM.json).
    ``SPARK_GRAFT_CHECKPOINT_REPLICAS=2`` stores every block as
    ``MEMORY_AND_DISK_2`` instead — a second replica on another executor,
    so one lost worker leaves every block readable. The policy is read on
    each call, on every session, including one built outside the engine
    and passed to ``configure_session``; unset, this is exactly
    ``df.localCheckpoint(eager)``.
    """
    return df.localCheckpoint(eager, storageLevel=_ckpt_storage_level())


@contextlib.contextmanager
def persisted(df: DataFrame) -> Iterator[DataFrame]:
    """``df.persist()`` for a ``with`` block, released however it exits.

    For data that must keep its partitioning (a checkpoint erases it).
    What is read after the block must be materialized inside it (an eager
    ``checkpoint``): a cached plan left behind is served to any later
    plan-identical subtree, in this query or the next.
    """
    held = df.persist()
    try:
        yield held
    finally:
        held.unpersist()


def _ckpt_storage_level():
    """The storage level ``checkpoint`` requests: None when
    replication is off, MEMORY_AND_DISK_2 when it is on. (Separated from
    ``checkpoint`` so the decision is unit-testable without a cluster that
    can actually PLACE a second replica — local modes have no peer and
    Spark degrades the reported level to replication=1.)"""
    if _ckpt_replicas() < 2:
        return None
    from pyspark.storagelevel import StorageLevel

    return StorageLevel.MEMORY_AND_DISK_2


def _ckpt_replicas() -> int:
    """Parse SPARK_GRAFT_CHECKPOINT_REPLICAS; 1 (= off) when unset.

    Any value >= 2 enables the MEMORY_AND_DISK_2 upgrade (Spark ships no
    public 3-replica level, so 2 is the strongest supported; values > 2
    are accepted with a warning rather than silently ignored). Malformed
    values warn loudly and disable replication, mirroring the
    SPARK_GRAFT_CPUS defensive-parse path.
    """
    raw = os.environ.get("SPARK_GRAFT_CHECKPOINT_REPLICAS")
    if raw is None or raw.strip() == "":
        return 1
    try:
        n = int(raw)
    except ValueError:
        warnings.warn(
            f"SPARK_GRAFT_CHECKPOINT_REPLICAS={raw!r} is not an integer; "
            "checkpoint replication stays OFF", stacklevel=2)
        return 1
    if n > 2:
        warnings.warn(
            f"SPARK_GRAFT_CHECKPOINT_REPLICAS={n}: Spark's strongest "
            "public storage level is 2 replicas (MEMORY_AND_DISK_2); "
            "using 2", stacklevel=2)
    return n


def get_spark(app_name: str = "etl_process_spark", master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Return (create if needed) the engine's SparkSession."""
    # transformWithStateInPandas workers import google.protobuf; this
    # container has none, so activate the vendored mini-runtime. Must
    # happen BEFORE the JVM starts: workers inherit PYTHONPATH through
    # the daemon the JVM spawns (vendor/__init__.py).
    from etl_process_spark.vendor import ensure_protobuf

    ensure_protobuf()
    # Defensive parse: a non-integer SPARK_GRAFT_CPUS must not crash
    # every entry point at session creation. "*" (Spark's own
    # all-cores spelling) resolves to the machine's core count so the
    # memory-proportional thread cap below STILL applies — otherwise
    # '*' with a small SPARK_GRAFT_DRIVER_MEM would silently run
    # full-width on an undersized heap, reintroducing the task-OOM
    # mode the cap exists to prevent. Any other non-integer passes
    # through to local[...] with a loud warning that the cap is off.
    cpus_raw = os.environ.get("SPARK_GRAFT_CPUS", "32")
    try:
        cpus = int(cpus_raw)
    except ValueError:
        if cpus_raw.strip() == "*":
            cpus = os.cpu_count() or 1
        else:
            cpus = None
            import warnings

            warnings.warn(
                f"SPARK_GRAFT_CPUS={cpus_raw!r} is not an integer: the "
                "memory-proportional thread cap is DISABLED for this "
                "session — an undersized heap may OOM at full width",
                stacklevel=2,
            )
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem()
    # Memory-proportional parallelism: a local JVM running N concurrent
    # tasks divides ONE heap N ways, so an undersized heap with full
    # thread count starves every task (128MB/task at 4g/32 — task
    # OutOfMemoryError, not spill, because operator working buffers are
    # unspillable below a floor). Cap threads so each concurrent task
    # keeps >=512MB — the same degrade-not-die choice a cluster
    # submitter makes by lowering executor-cores when memory shrinks.
    # At the normal machine-sized heap the cap is above the CPU count
    # and nothing changes.
    heap_bytes = _parse_mem(driver_mem)
    if heap_bytes and cpus is not None:
        cpus = max(1, min(cpus, heap_bytes // (512 << 20)))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus if cpus is not None else cpus_raw}]")
        .config("spark.sql.shuffle.partitions", DEFAULT_SHUFFLE_PARTITIONS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # Broadcast threshold scaled to the heap, not flat: a planned
        # broadcast that cannot build does NOT degrade to a sort-merge
        # join — BroadcastExchangeExec throws "Not enough memory to
        # build and broadcast the table" and kills the job (seen in the
        # memory-pressure rehearsal: BFS's grown frontier planned as a
        # 64MB-threshold broadcast under a 4g heap took down the whole
        # context). Hash relations expand ~4-8x over their serialized
        # estimate and share the heap with execution + storage, so the
        # threshold follows executor memory: heap/256, capped at the
        # 64MB that a 16g+ production executor gets.
        .config("spark.sql.autoBroadcastJoinThreshold",
                str(_broadcast_threshold(driver_mem)))
        # Size the single local JVM to the machine: the 1 GiB default heap
        # OOMs once ~32 concurrent hash-aggregate/sort tasks each hold
        # partial maps (seen on the part co-occurrence self-join at
        # sf0.1), while a hardcoded 48g would get the process OS-killed
        # on smaller hosts. On a real cluster this is the submitter's
        # executor-memory setting.
        .config("spark.driver.memory", driver_mem)
        # JVM unified logging writes [gc,alloc] warnings to STDOUT, which
        # corrupts bench.py's one-JSON-line contract under memory
        # pressure — route JVM logging off entirely.
        .config("spark.driver.extraJavaOptions", "-Xlog:disable")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's semantic configs to an externally-created session.

    The driver hands us a SparkSession it built; runtime-settable semantics
    (ANSI mode, time zone, AQE) must still hold for oracle parity.
    """
    runtime = {
        "spark.sql.ansi.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
    }
    for key, value in runtime.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            pass  # static conf on a live session; semantics already fixed
    return spark
