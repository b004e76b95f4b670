"""Tracing for the traced run: spans recorded around the engine's public
functions, and the Spark event-log reader that attributes jobs, stages,
tasks and scans to those spans.

Spans are kept in memory (``Tracer.spans``) and written out when the run
ends. A job is attributed to the innermost span open at its submission
time; spans are matched by time, not by thread, so work the streaming
engine runs on its own threads lands in the epoch that ran it.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import threading
import time

# Catalog tables whose write materializes a layer's lazy result.
LAYER_TABLES = {
    "scd2": {"dim_terminals_hist", "user_profile"},
    "fraud": {"rep_fraud"},
    "expectations": {"dq_report"},
}


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.read_times: list[float] = []
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        rec = {"name": name, "start": time.time(), **attrs}
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self.spans.append(rec)

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        if self.enabled:
            self.spans.append({"name": name, "start": start, "end": end, **attrs})


def catalyst_phases(spark, df) -> dict:
    """Analysis / optimization / planning ms from the DataFrame's own
    QueryPlanningTracker (forces physical planning, no execution)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(
        qe.tracker().phases())
    return {k: int(phases.get(k).durationMs()) for k in phases.keySet()}


def _files(root: str) -> dict[str, int]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


# (owner, attribute, original) of every wrapped entry point, for uninstall
_ORIGINALS: list[tuple[object, str, object]] = []


def _replace(owner, attr: str, new) -> None:
    _ORIGINALS.append((owner, attr, getattr(owner, attr)))
    setattr(owner, attr, new)


def _wrap(tracer: Tracer, module, attr: str, layer: str) -> None:
    fn = getattr(module, attr)
    if getattr(fn, "_perfbench", False):
        return

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(layer, fn=attr):
            return fn(*args, **kwargs)

    wrapper._perfbench = True
    _replace(module, attr, wrapper)


def _wrap_catalog(tracer: Tracer, cls) -> None:
    if getattr(cls.read, "_perfbench", False):
        return
    local = tracer._local

    def writer(fn):
        @functools.wraps(fn)
        def wrapper(self, name, df, *args, **kwargs):
            if getattr(local, "writing", False):   # append -> overwrite
                return fn(self, name, df, *args, **kwargs)
            before = _files(self.root)
            local.writing = True
            try:
                with tracer.span("catalog.write", table=name, op=fn.__name__) as rec:
                    result = fn(self, name, df, *args, **kwargs)
            finally:
                local.writing = False
            after = _files(self.root)
            changed = [p for p, s in after.items() if before.get(p) != s]
            rec["bytes"] = sum(after[p] for p in changed)
            rec["files"] = sum(1 for p in changed if p.endswith(".parquet"))
            try:
                rec["catalyst"] = catalyst_phases(self.spark, df)
            except Exception as exc:  # tracing must not fail the run
                rec["catalyst_error"] = repr(exc)[:200]
            return result
        return wrapper

    read = cls.read

    @functools.wraps(read)
    def traced_read(self, name):
        if tracer.enabled:
            tracer.read_times.append(time.time())
        return read(self, name)

    traced_read._perfbench = True
    for attr in ("overwrite", "append", "append_segment"):
        _replace(cls, attr, writer(getattr(cls, attr)))
    _replace(cls, "read", traced_read)


def install(tracer: Tracer) -> None:
    """Wrap the engine's layer entry points (module attributes, as the
    callers look them up) with spans. Used only by the traced run."""
    from etl_process_spark.pipeline import expectations, runner
    from etl_process_spark.sources.tables import TableCatalog
    from etl_process_spark.streaming import dedup_stream, scd2_stream

    for attr in ("scd2_merge", "scd2_init"):
        _wrap(tracer, runner, attr, "scd2")
        _wrap(tracer, scd2_stream, attr, "scd2")
    for attr in ("enrich_transactions", "build_fraud_report",
                 "build_fraud_report_incremental"):
        _wrap(tracer, runner, attr, "fraud")
    for attr in ("stage_transactions", "quarantine_transactions", "load_blacklist_file"):
        _wrap(tracer, runner, attr, "loaders")
    _wrap(tracer, expectations, "check_expectations", "expectations")
    for attr in ("lsh_bands", "probe_pairs_from_bands", "bucket_pairs"):
        _wrap(tracer, dedup_stream, attr, "dedup")
    _wrap_catalog(tracer, TableCatalog)


def uninstall() -> None:
    """Put back every entry point ``install`` wrapped."""
    while _ORIGINALS:
        owner, attr, fn = _ORIGINALS.pop()
        setattr(owner, attr, fn)


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------

def _scan_nodes(info: dict, out: dict, exec_id: int, t: float) -> None:
    name = info.get("nodeName", "")
    if name.startswith("Scan "):
        loc = info.get("metadata", {}).get("Location", "")
        for m in info.get("metrics", []):
            if m.get("name") == "number of output rows":
                out.setdefault(m["accumulatorId"], {
                    "format": name[5:].strip().split(" ")[0], "location": loc,
                    "execution": exec_id, "time": t})
    for child in info.get("children", []):
        _scan_nodes(child, out, exec_id, t)


def _lines(parts: list[str]):
    for part in parts:
        with open(part) as fh:
            yield from fh


def read_event_log(log_dir: str) -> dict:
    """Jobs (with stages and task totals) and executed file scans from the
    newest uncompressed event log under ``log_dir``."""
    paths = glob.glob(os.path.join(log_dir, "*"))
    if not paths:
        return {"jobs": [], "scans": []}
    path = max(paths, key=os.path.getmtime)
    # a v2 event log is a directory of numbered parts: events_<n>_<app>
    parts = sorted(glob.glob(os.path.join(path, "events_*")),
                   key=lambda p: int(os.path.basename(p).split("_")[1])) \
        if os.path.isdir(path) else [path]
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    scans: dict[int, dict] = {}
    exec_time: dict[int, float] = {}
    acc_rows: dict[int, int] = {}
    for line in _lines(parts):
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            jobs[jid] = {"id": jid, "submit": ev["Submission Time"] / 1000.0,
                         "end": None, "group": props.get("spark.jobGroup.id"),
                         "stages": len(ev.get("Stage IDs", [])), "tasks": 0,
                         "run_ms": 0, "cpu_ms": 0.0, "gc_ms": 0, "wait_ms": 0,
                         "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
                         "spill_bytes": 0, "failed_tasks": 0}
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info", {})
            for acc in info.get("Accumulables", []):
                if acc.get("ID") in scans:
                    try:
                        acc_rows[acc["ID"]] = acc_rows.get(acc["ID"], 0) + int(acc["Update"])
                    except (KeyError, TypeError, ValueError):
                        pass
            job = jobs.get(stage_job.get(ev.get("Stage ID")))
            if job is None:
                continue
            m = ev.get("Task Metrics") or {}
            run = m.get("Executor Run Time", 0)
            job["tasks"] += 1
            job["run_ms"] += run
            job["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            job["gc_ms"] += m.get("JVM GC Time", 0)
            job["wait_ms"] += max(0, info.get("Finish Time", 0)
                                  - info.get("Launch Time", 0) - run)
            sr = m.get("Shuffle Read Metrics") or {}
            job["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0)
            job["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            job["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
            job["failed_tasks"] += int(info.get("Failed", False) or reason != "Success")
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            eid = ev["executionId"]
            exec_time[eid] = ev.get("time", 0) / 1000.0
            _scan_nodes(ev.get("sparkPlanInfo", {}), scans, eid, exec_time[eid])
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            eid = ev["executionId"]
            _scan_nodes(ev.get("sparkPlanInfo", {}), scans, eid, exec_time.get(eid, 0))
    executed = [dict(s, acc=a, rows=acc_rows[a]) for a, s in scans.items() if a in acc_rows]
    return {"path": os.path.basename(path), "jobs": sorted(jobs.values(), key=lambda j: j["id"]),
            "scans": executed}


def innermost(spans: list[dict], t: float) -> dict | None:
    best = None
    for s in spans:
        if s["start"] <= t <= s["end"]:
            if best is None or s["end"] - s["start"] < best["end"] - best["start"]:
                best = s
    return best


EXEC_KEYS = ("stages", "tasks", "run_ms", "cpu_ms", "gc_ms", "wait_ms",
             "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "failed_tasks")


def attribute(spans: list[dict], log: dict) -> dict:
    """Per-op and per-layer ledger: each job goes to the innermost span
    open at its submission, and to the op span around it."""
    ops = [s for s in spans if s["name"] == "op"]
    per_op = {id(s): {"op": s.get("label"), "kind": s.get("kind"),
                      "wall_s": s["end"] - s["start"], "jobs": 0,
                      "groups": set(), **{k: 0 for k in EXEC_KEYS}} for s in ops}
    layers: dict[str, dict] = {}
    for job in log["jobs"]:
        op = innermost(ops, job["submit"])
        if op is None:
            continue
        row = per_op[id(op)]
        row["jobs"] += 1
        if job["group"]:
            row["groups"].add(job["group"])
        for k in EXEC_KEYS:
            row[k] += job[k]
        inner = innermost(spans, job["submit"])
        layer = layers.setdefault(inner["name"], {"jobs": 0, "job_s": 0.0})
        layer["jobs"] += 1
        layer["job_s"] += (job["end"] or job["submit"]) - job["submit"]
    for row in per_op.values():
        row["groups"] = sorted(row["groups"])
    scans = []
    for s in log["scans"]:
        op = innermost(ops, s["time"])
        if op is not None:
            scans.append(dict(s, op=op.get("label")))
    return {"per_op": list(per_op.values()), "layers": layers, "scans": scans}
