"""The streams half of ``queries_streams``: file-source micro-batches
(``maxFilesPerTrigger=1``, ``availableNow``) through the neardup LSH
sink, then through the SCD2 sink. One operation is one micro-batch epoch; a cycle runs both streams
on a fresh catalog and checkpoint, then restarts both on the same
checkpoints with no new input."""

from __future__ import annotations

import datetime as dt
import json
import os
import time

import gen
from harness import Bench, Checker, canon, catalog_space

CHUNKS = 3
DOCS_PER_CHUNK = 400
EVENTS_PER_CHUNK = 5_000
USERS = 2_000
RESTARTS = 1            # restarts of both sinks with no new input
CYCLE_S = 8.0           # nominal cycle length on a 4-core host: sets cycles per run
TRACKED = ["event_type", "value"]
SCD2_COLS = ["user_id", "event_type", "value", "effective_from", "effective_to",
             "deleted_flg"]


def generate(seed: int, work: str) -> dict:
    return {
        "main": gen.stream_inputs(seed, os.path.join(work, "streams"), CHUNKS,
                                  DOCS_PER_CHUNK, EVENTS_PER_CHUNK, USERS),
        "warm": gen.stream_inputs(seed + 1, os.path.join(work, "warm"), 2, 20, 50, 10),
    }


def _doc_schema():
    from pyspark.sql import types as T

    return T.StructType([T.StructField("doc_id", T.LongType()),
                         T.StructField("text", T.StringType())])


def _progress(q) -> list[dict]:
    out = []
    for p in q.recentProgress:
        out.append(json.loads(p.json) if hasattr(p, "json") else dict(p))
    return [p for p in out if p.get("numInputRows", 0) > 0]


def _start(b: Bench, inp: dict, cat, ckpt: str, sink: str):
    from etl_process_spark.streaming.dedup_stream import run_neardup_stream
    from etl_process_spark.streaming.scd2_stream import run_scd2_stream
    from etl_process_spark.streaming.sources import read_event_stream

    if sink == "neardup":
        stream = read_event_stream(b.spark, inp["doc_dir"], max_files_per_trigger=1,
                                   schema=_doc_schema())
        return run_neardup_stream(stream, cat, "text", "doc_id", ckpt)
    stream = read_event_stream(b.spark, inp["event_dir"], max_files_per_trigger=1)
    return run_scd2_stream(stream, cat, "user_profile", "user_id", TRACKED, "ts", ckpt)


def _run_stream(b: Bench, inp: dict, cat, ckpt: str, sink: str) -> list[dict]:
    q = _start(b, inp, cat, ckpt, sink)
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(f"{sink} stream failed: {q.exception()}")
    return _progress(q)


def _epoch_spans(b: Bench, sink: str, progress: list[dict]) -> list[float]:
    """Epoch latencies from StreamingQueryProgress; the traced run also
    records each epoch as an ``op`` span so its jobs are attributed."""
    out = []
    for p in progress:
        sec = p["durationMs"]["triggerExecution"] / 1000.0
        out.append(sec)
        start = dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        b.tracer.add("op", start, start + sec, label=f"{sink}:epoch{p['batchId']}",
                     kind="op")
    return out


def _state(root: str, ckpts: list[str]) -> dict:
    """Catalog pointers plus checkpoint commit markers: what a restart
    with no new input must leave unchanged."""
    out = {}
    for f in sorted(os.listdir(root)):
        if f.endswith(".version.json"):
            with open(os.path.join(root, f)) as fh:
                out[f] = fh.read()
    for c in ckpts:
        d = os.path.join(c, "commits")
        out[c] = sorted(os.listdir(d)) if os.path.isdir(d) else []
    return out


def _cycle(b: Bench, inp: dict, root: str, rec: dict, restarts: int):
    from etl_process_spark.sources.tables import TableCatalog

    cat = TableCatalog(b.spark, os.path.join(root, "catalog"))
    ckpts = [os.path.join(root, "ckpt_neardup"), os.path.join(root, "ckpt_scd2")]
    progress = {}
    t0 = time.perf_counter()
    for sink, ckpt in zip(("neardup", "scd2"), ckpts):
        with b.tracer.span("stream", sink=sink):
            progress[sink] = _run_stream(b, inp, cat, ckpt, sink)
    total = time.perf_counter() - t0
    before = _state(cat.root, ckpts)
    reruns, restart = [], []
    for k in range(restarts):
        t1 = time.perf_counter()
        for sink, ckpt in zip(("neardup", "scd2"), ckpts):
            with b.op(f"{sink}:restart{k}", kind="rerun"):
                restart += _run_stream(b, inp, cat, ckpt, sink)
        reruns.append(time.perf_counter() - t1)
    after = _state(cat.root, ckpts)
    b.count_leaks()
    epochs = []
    for sink in ("neardup", "scd2"):
        epochs += _epoch_spans(b, sink, progress[sink])
        for p in progress[sink]:
            for k, v in p["durationMs"].items():
                rec["streaming"][k] = rec["streaming"].get(k, 0) + v
            rec["streaming"]["numInputRows"] = (rec["streaming"].get("numInputRows", 0)
                                                + p["numInputRows"])
    changed = sum(1 for k in set(before) | set(after) if before.get(k) != after.get(k))
    return cat, epochs, total, reruns, changed + len(restart)


def prime(b: Bench, inputs: dict, root: str) -> None:
    _cycle(b, inputs["warm"], root, {"streaming": {}}, 0)
    b.clean()


def _check(b: Bench, inp: dict, cat, restart_commits: int, root: str):
    from etl_process_spark.operators.dedup import lsh_candidate_pairs
    from etl_process_spark.sources.tables import TableCatalog
    from etl_process_spark.streaming.dedup_stream import PAIRS_TABLE
    from etl_process_spark.streaming.scd2_stream import scd2_sink

    spark = b.spark
    pairs = sorted((r["doc_a"], r["doc_b"]) for r in cat.read(PAIRS_TABLE).collect())
    docs = spark.read.parquet(inp["doc_dir"])
    ref_pairs = sorted((r["doc_a"], r["doc_b"]) for r in
                       lsh_candidate_pairs(docs, "text", "doc_id").collect())
    twin = TableCatalog(spark, os.path.join(root, "twin"))
    apply = scd2_sink(twin, "user_profile", "user_id", TRACKED, "ts")
    for i, f in enumerate(sorted(os.listdir(inp["event_dir"]))):
        apply(spark.read.parquet(os.path.join(inp["event_dir"], f)), i)
    found = set(pairs)
    clones = [tuple(sorted(c)) for c in inp["expected"]["clones"]]
    actual = {
        "pairs": [list(p) for p in pairs],
        "scd2": canon(cat.read("user_profile").collect(), SCD2_COLS),
        "restart_commits": restart_commits,
        "clones_found": sum(1 for c in clones if c in found),
        "indexed_docs": cat.read("lsh_band_index").select("doc").distinct().count(),
    }
    reference = {
        "pairs": [list(p) for p in ref_pairs],
        "scd2": canon(twin.read("user_profile").collect(), SCD2_COLS),
        "restart_commits": 0,
        "clones_found": len(clones),
        "indexed_docs": inp["expected"]["documents"],
    }
    return actual, reference


def measure(b: Bench, inputs: dict, seconds: float, root: str) -> dict:
    inp = inputs["main"]
    cycles = max(1, round(seconds / CYCLE_S))
    chk = Checker()
    rec = {"ops": [], "totals": [], "reruns": [], "streaming": {}, "index_rows": 0,
           "input_bytes": sum(os.path.getsize(os.path.join(d, f))
                              for d in (inp["doc_dir"], inp["event_dir"])
                              for f in os.listdir(d)) * cycles}
    for c in range(cycles):
        croot = os.path.join(root, f"cycle{c}")
        try:
            cat, epochs, total, reruns, restart_commits = _cycle(b, inp, croot, rec, RESTARTS)
        except Exception as exc:
            chk.error(f"cycle{c}", 2 * inp["chunks"] + RESTARTS, exc)
            b.clean()
            continue
        rec["ops"] += epochs
        rec["totals"].append(total)
        rec["reruns"] += reruns
        rec["index_rows"] += cat.read("lsh_band_index").count()
        actual, reference = _check(b, inp, cat, restart_commits, croot)
        chk.check(f"cycle{c}", len(epochs) + RESTARTS, actual, reference, "pairs")
        rec["catalog"] = catalog_space(cat.root)
        b.clean()
    rec["checker"] = chk
    return rec
