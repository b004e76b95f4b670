"""Per-layer metrics of the traced run, named after the engine's modules
and the Catalyst phases.

Layer spans are inclusive wall time at the function boundary. Where a
layer's function only assembles a lazy plan (scd2, fraud, expectations),
its metric also includes the catalog write that materializes its output
table, which is where its jobs run. Only spans inside measured operations
count; checks and set-up are excluded.
"""

from __future__ import annotations

from host import median
from tracing import LAYER_TABLES

UNITS = {
    "session.start_s": "s", "session.warmup_s": "s",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.run_ms": "ms", "exec.cpu_ms": "ms", "exec.gc_ms": "ms", "exec.wait_ms": "ms",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.failed_tasks": "count",
    "loaders.inbox_scans_per_file": "ratio", "loaders.fact_scans_per_night": "ratio",
    "runner.jobs_per_night": "count", "runner.action_s": "s",
    "scd2.merge_s": "s", "expectations.check_s": "s", "fraud.report_s": "s",
    "catalog.write_s": "s", "catalog.read_calls": "count",
    "catalog.bytes_written": "bytes", "catalog.files_written": "count",
    "catalog.write_amp": "ratio", "catalog.space_amp": "ratio", "catalog.live_dirs": "count",
    "streaming.add_batch_ms": "ms", "streaming.planning_ms": "ms",
    "streaming.wal_commit_ms": "ms", "streaming.input_rows": "count",
    "dedup.index_rows_scanned_per_new_band": "ratio",
    "hygiene.leaked_rdds": "count", "hygiene.leaked_cached_plans": "count",
    "mem.peak_rss_mb": "MB",
    # untraced, from the traced run's first pass: too noisy run to run
    # (IQR/median up to 0.27 on nightly_batch) to be a bounded metric
    "noop_rerun_s": "s",
    "trace.total_s": "s", "trace.overhead_s": "s",
}


def _inside(span: dict, ops: list[dict]) -> bool:
    return any(o["start"] <= span["start"] and span["end"] <= o["end"] for o in ops)


def layer_metrics(workload: str, tracer, ledger: dict, rec: dict, b, starts, warms,
                  traced_total: float, overhead: float) -> dict:
    ops = [s for s in tracer.spans if s["name"] == "op"]
    spans = [s for s in tracer.spans if s["name"] != "op" and _inside(s, ops)]

    def span_s(name: str) -> float:
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    writes = [s for s in spans if s["name"] == "catalog.write"]

    def layer_s(layer: str) -> float:
        return span_s(layer) + sum(s["end"] - s["start"] for s in writes
                                   if s.get("table") in LAYER_TABLES[layer])

    phases = [s["catalyst"] for s in writes if "catalyst" in s]
    phases += [s["catalyst"] for s in ops if "catalyst" in s]
    per_op = ledger["per_op"]
    layers = ledger["layers"]
    scans = ledger["scans"]
    nights = [r for r in per_op if r["kind"] == "op" and workload == "nightly_batch"]
    tx_scans = sum(1 for s in scans if s["format"] == "csv" and "transactions_" in s["location"])
    fact_scans = sum(1 for s in scans if s["format"] == "parquet"
                     and "fact_transactions" in s["location"])
    index_rows = sum(s["rows"] for s in scans if "lsh_band_index" in s["location"])
    written = sum(s.get("bytes", 0) for s in writes)
    cat = rec.get("catalog") or {}
    stream = rec.get("streaming") or {}

    def ops_sum(key: str) -> float:
        return sum(r[key] for r in per_op)

    return {
        "session.start_s": median(starts),
        "session.warmup_s": median(warms),
        "queries.build_s": span_s("queries.build"),
        "queries.build_jobs": layers.get("queries.build", {}).get("jobs", 0),
        "catalyst.analysis_ms": sum(p.get("analysis", 0) for p in phases),
        "catalyst.optimization_ms": sum(p.get("optimization", 0) for p in phases),
        "catalyst.planning_ms": sum(p.get("planning", 0) for p in phases),
        "exec.jobs": ops_sum("jobs"),
        "exec.stages": ops_sum("stages"),
        "exec.tasks": ops_sum("tasks"),
        "exec.run_ms": ops_sum("run_ms"),
        "exec.cpu_ms": ops_sum("cpu_ms"),
        "exec.gc_ms": ops_sum("gc_ms"),
        "exec.wait_ms": ops_sum("wait_ms"),
        "exec.shuffle_read_bytes": ops_sum("shuffle_read_bytes"),
        "exec.shuffle_write_bytes": ops_sum("shuffle_write_bytes"),
        "exec.spill_bytes": ops_sum("spill_bytes"),
        "exec.failed_tasks": ops_sum("failed_tasks"),
        "loaders.inbox_scans_per_file": tx_scans / rec["tx_files"] if rec.get("tx_files") else 0,
        "loaders.fact_scans_per_night": fact_scans / len(nights) if nights else 0,
        "runner.jobs_per_night": median([r["jobs"] for r in nights]),
        "runner.action_s": layers.get("op", {}).get("job_s", 0.0)
        if workload == "nightly_batch" else 0.0,
        "scd2.merge_s": layer_s("scd2"),
        "expectations.check_s": layer_s("expectations"),
        "fraud.report_s": layer_s("fraud"),
        "catalog.write_s": span_s("catalog.write"),
        "catalog.read_calls": sum(1 for t in tracer.read_times
                                  if any(o["start"] <= t <= o["end"] for o in ops)),
        "catalog.bytes_written": written,
        "catalog.files_written": sum(s.get("files", 0) for s in writes),
        "catalog.write_amp": written / rec["input_bytes"] if rec.get("input_bytes") else 0,
        "catalog.space_amp": cat["disk_bytes"] / cat["live_bytes"]
        if cat.get("live_bytes") else 0,
        "catalog.live_dirs": cat.get("live_dirs", 0),
        "streaming.add_batch_ms": stream.get("addBatch", 0),
        "streaming.planning_ms": stream.get("queryPlanning", 0),
        "streaming.wal_commit_ms": stream.get("walCommit", 0),
        "streaming.input_rows": stream.get("numInputRows", 0),
        "dedup.index_rows_scanned_per_new_band": index_rows / rec["index_rows"]
        if rec.get("index_rows") else 0,
        "hygiene.leaked_rdds": b.leaked_rdds,
        "hygiene.leaked_cached_plans": b.leaked_plans,
        "mem.peak_rss_mb": b.mem.peak_mb(),
        "trace.total_s": traced_total,
        "trace.overhead_s": overhead,
    }
