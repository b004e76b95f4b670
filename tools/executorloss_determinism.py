"""Executor-loss / stage-resubmission determinism rehearsal (100 TB
operational claim #4 — after retries, speculation, and forced spills).

At 1000 executors the third routine cluster event is a WORKER dying
mid-query: its shuffle map outputs and cached blocks vanish, surviving
reduce tasks hit ``FetchFailed``, the DAGScheduler resubmits the parent
map stage for the missing partitions, and the query's result must not
depend on which partitions recomputed. This tool stages that event for
real and checks the results bit-for-bit.

Mechanism — four parts:

* **A real 2-host standalone cluster** (tools/minicluster.py — the
  speculation rehearsal's topology): master + two workers pinned to
  distinct loopback hostnames, each worker in its own process group so
  a SIGKILL takes the worker AND its executor (an orphaned executor
  would keep serving shuffle blocks and no loss would occur).
* **A deterministic kill window.** The query's final DataFrame is
  wrapped with an identity ``mapInPandas`` BARRIER: each final-stage
  task writes a marker file naming its host, then blocks until the
  driver writes a ``go`` file (bounded by a timeout, so nothing can
  deadlock). The driver waits for markers, kills a worker that is
  actually RUNNING a barrier task — guaranteeing the victim holds
  in-flight work and (having run map tasks) registered shuffle
  output — then releases the barrier. Rescheduled tasks find ``go``
  already present and pass straight through.
* **Two designed recovery paths, both proven:**
  - ``stage_resubmission`` — queries whose lineage is intact recover
    IN-FLIGHT: the event log must show FetchFailed task ends and/or
    re-submitted stage attempts (Stage Attempt ID > 0) in the query's
    job group, and the canonical hash must equal the healthy baseline.
  - ``job_retry`` — the iterative operators truncate lineage with
    ``localCheckpoint`` (the documented speed/fault-tolerance
    trade-off: a lost block has no lineage to rebuild from, Spark
    aborts the job). The harness does what a production orchestrator
    does — reruns the query on the degraded cluster — and the rerun's
    hash must equal the baseline. The failure error class is recorded.
* **The resilient mode, also proven.** With the engine toggle
  ``SPARK_GRAFT_CHECKPOINT_REPLICAS=2`` (``session.checkpoint``, the
  engine's one checkpoint call, stores every block at MEMORY_AND_DISK_2
  — a second replica on another executor), the same kill must now be survived IN-FLIGHT by
  the queries that needed a job retry in default mode. Recorded as a
  separate ``replicated_leg`` per query.

Every leg's hard gate is hash equality against a healthy-cluster
baseline using the SAME canonicalization the DuckDB differential
hashes (queries/differential._rows_to_canonical). A run where the
worker died but NO recovery evidence exists (job finished before
needing anything from the victim) is retried against the other worker
and ultimately recorded ok=false as vacuous, same rule as the retry
and speculation harnesses.

Usage: python tools/executorloss_determinism.py [sf_dir] [out.json]
           [--quick | --tier10x]
Writes EXECUTORLOSS_DETERMINISM.json (12-query suite; --quick runs a
2-query smoke — one stage-resubmission query, one localCheckpoint
query — and does NOT overwrite the artifact unless an out path is
given); exits nonzero on any mismatch or vacuous run. Run SERIALLY.

--tier10x: the round-10 verdict's scale gap — every determinism
rehearsal ran at sf0.01, where AQE coalesces shuffles to a handful of
partitions (the regime that MASKED the round-7 cogroup key-type bug).
This leg re-runs the 4 heaviest suite queries against the decorrelated
10x replica (/tmp/spark_graft_scale10, built by tools/bench_scale.py),
with cluster-sized executors (8g × 2) and 32 shuffle partitions, so
the kill lands in a query whose recompute genuinely spans
multi-partition shuffles. Results MERGE into the artifact under a
``tier_10x`` key with the same hash + recovery-evidence gates.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import threading
import time
import uuid
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from tools.retry_determinism import JVM_QUERIES, PYTHON_FAMILIES  # noqa: E402
from tools.minicluster import MiniCluster, WORKER_HOSTS  # noqa: E402
# shared rehearsal core (tools/faultlab) — re-exported under the
# original names for the decommission/streaming harnesses and tests
from tools.faultlab import (  # noqa: E402
    BARRIER_TIMEOUT,
    barrier_identity as _barrier_identity,
    canon_hash as _canon_hash,
    merge_tier_leg,
    parse_eventlog_groups as _parse_eventlog,
    run_wrapped as _run_wrapped,
    wait_executors as _wait_executors,
)

EVENTLOG_DIR = "/tmp/spark_graft_exloss_eventlog"
BARRIER_ROOT = "/tmp/spark_graft_exloss_barrier"
MARKER_WAIT = 240.0      # driver-side wait for the final stage to start
JOIN_TIMEOUT = 900.0     # injected-run wall clock bound

# suite queries that localCheckpoint (lineage truncated -> designed
# fail-fast + deterministic job retry in default mode; in-flight
# survival with SPARK_GRAFT_CHECKPOINT_REPLICAS=2)
CHECKPOINT_QUERIES = {
    "tokenizer_bpe_deep_merges",
    "part_bfs_reach",
    "neardup_clusters_star",
    "image_phash_dup_pairs",       # digest table localCheckpoint
    "video_phash_dup_pairs",       # frame digest localCheckpoint
    "margin_bitext_pairs",         # cell-assignment localCheckpoint
}

# the 10x-tier suite: the verdict-named heavy queries whose recompute
# spans multi-partition shuffles at the replica scale (6M-row lineitem
# BFS, 50k-doc pHash/SimHash self-joins, 20k-vector cogrouped kNN)
TIER10X_QUERIES = [
    "part_bfs_reach",
    "image_phash_dup_pairs",
    "simhash_dup_pairs",
    "margin_bitext_pairs",
]
TIER10X_SF_DIR = "/tmp/spark_graft_scale10"
TIER10X_CONF = {
    "spark.executor.memory": "8g",
    "spark.sql.shuffle.partitions": "32",
}


def _kill_during_final_stage(cluster: MiniCluster, token_dir: str,
                             prefer_not: int | None = None) -> dict:
    """Wait for barrier markers, kill a worker that is RUNNING a
    barrier task (preferring the one `prefer_not` doesn't name, for
    the retry-other-worker path), then release the barrier."""
    deadline = time.time() + MARKER_WAIT
    victim = None
    while time.time() < deadline:
        hosts = {os.path.basename(m).rsplit("_", 1)[1]
                 for m in glob.glob(os.path.join(token_dir, "task_*"))}
        candidates = [i for i, h in enumerate(WORKER_HOSTS)
                      if h in hosts and i != prefer_not]
        if not candidates and prefer_not is not None:
            candidates = [i for i, h in enumerate(WORKER_HOSTS) if h in hosts]
        if candidates:
            victim = candidates[0]
            break
        time.sleep(0.1)
    info = {"victim_worker": victim,
            "victim_host": WORKER_HOSTS[victim] if victim is not None else None}
    if victim is not None:
        cluster.kill_worker(victim)
        info["killed"] = True
    # release the barrier whether or not a victim was found — nothing
    # may hang on harness logic
    os.makedirs(token_dir, exist_ok=True)
    open(os.path.join(token_dir, "go"), "w").close()
    return info


def _injected_once(spark, cluster, sf_dir, name, base_hash,
                   job_group, prefer_not=None) -> dict:
    """One kill-injected run: barrier wrap, kill mid-final-stage,
    classify the recovery path, enforce hash equality."""
    token_dir = os.path.join(BARRIER_ROOT, uuid.uuid4().hex)
    sc = spark.sparkContext
    holder: dict = {}

    def target():
        # pinned-thread mode (PySpark >= 3.2 default) maps each Python
        # thread to its own JVM thread: local properties set in the
        # MAIN thread do not reach jobs submitted from this one, so the
        # job group must be set here
        sc.setLocalProperty("spark.jobGroup.id", job_group)
        try:
            holder["hash"], holder["rows"] = _run_wrapped(
                spark, sf_dir, name, token_dir)
        except Exception as exc:  # noqa: BLE001 — classified below
            holder["error"] = f"{type(exc).__name__}: {exc}"[:400]
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    t = threading.Thread(target=target, daemon=True)
    t.start()
    kill = _kill_during_final_stage(cluster, token_dir, prefer_not)
    t.join(timeout=JOIN_TIMEOUT)
    res: dict = {"kill": kill}
    if t.is_alive():
        res["error"] = f"injected run did not finish within {JOIN_TIMEOUT:.0f}s"
        return res
    if "error" in holder:
        res["error"] = holder["error"]
        return res
    res["hash_injected"] = holder["hash"]
    res["rows_injected"] = holder["rows"]
    res["hash_match"] = holder["hash"] == base_hash
    return res


def main() -> None:  # noqa: C901 — linear rehearsal script
    argv = [a for a in sys.argv[1:] if not a.startswith("--")]
    quick = "--quick" in sys.argv
    tier10x = "--tier10x" in sys.argv
    sf_dir = argv[0] if argv else (
        TIER10X_SF_DIR if tier10x else "/root/testdata/sf0.01")
    if tier10x:
        # 10x queries reach their final stage minutes (not seconds)
        # in — widen the marker wait and the run bound accordingly
        global MARKER_WAIT, JOIN_TIMEOUT
        MARKER_WAIT = 900.0
        JOIN_TIMEOUT = 2700.0
    out_path = (
        Path(argv[1]) if len(argv) > 1
        else (None if quick else REPO / "EXECUTORLOSS_DETERMINISM.json")
    )

    from tools.faultlab import setup_env

    setup_env()
    os.environ.pop("SPARK_GRAFT_CHECKPOINT_REPLICAS", None)

    shutil.rmtree(EVENTLOG_DIR, ignore_errors=True)
    os.makedirs(EVENTLOG_DIR, exist_ok=True)
    shutil.rmtree(BARRIER_ROOT, ignore_errors=True)

    from etl_process_spark.session import get_spark

    suite = PYTHON_FAMILIES + JVM_QUERIES
    if quick:
        suite = ["heavy_hitter_order_groups", "part_bfs_reach"]
    elif tier10x:
        suite = TIER10X_QUERIES

    results: dict[str, dict] = {}
    # MiniCluster.__enter__ returns the master URL (the speculation
    # tool's call shape); this harness needs the INSTANCE for
    # kill/restart, so enter/exit explicitly.
    # tier-10x executors are 8g (TIER10X_CONF): the worker daemon must
    # OFFER that much or the executor never launches and every query
    # fails as "cluster did not heal"
    cluster = MiniCluster(tag="exloss",
                          memory="10g" if tier10x else "3g")
    cluster.__enter__()
    try:
        conf = {
                "spark.driver.host": "127.0.0.1",
                "spark.executor.memory": "2g",
                "spark.executor.cores": "4",
                "spark.cores.max": "8",
                "spark.sql.shuffle.partitions": "8",
                "spark.locality.wait": "0s",
                # the replicated-checkpoint leg: after an earlier kill,
                # an executor's cached peer list can still name the
                # dead peer; the default maxReplicationFailures=1 then
                # silently degrades the block to ONE replica ("No more
                # replicas available") and the leg loses it with the
                # next kill. Retries force a peer-list refresh from the
                # master (which already knows the restarted worker).
                "spark.storage.maxReplicationFailures": "5",
                "spark.storage.cachedPeersTtl": "1000",
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{EVENTLOG_DIR}",
                "spark.eventLog.compress": "false",
        }
        if tier10x:
            conf.update(TIER10X_CONF)
        spark = get_spark(
            "executorloss_determinism",
            master=cluster.master_url,
            extra_conf=conf,
        )
        sc = spark.sparkContext

        for name in suite:
            expect_ckpt = name in CHECKPOINT_QUERIES
            # heal the cluster from the previous query's kill
            for i, p in enumerate(cluster.workers):
                if p is None or p.poll() is not None:
                    cluster.restart_worker(i)
            if not _wait_executors(spark, 2):
                results[name] = {"ok": False,
                                 "error": "cluster did not heal to 2 executors"}
                continue

            sc.setLocalProperty("spark.jobGroup.id", f"base::{name}")
            try:
                base_hash, base_rows = _run_wrapped(spark, sf_dir, name, None)
            except Exception as exc:  # noqa: BLE001
                results[name] = {
                    "ok": False,
                    "error": f"baseline: {type(exc).__name__}: {exc}"[:300]}
                continue
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)

            res: dict = {"rows": base_rows, "hash": base_hash,
                         "uses_local_checkpoint": expect_ckpt}
            inj = _injected_once(spark, cluster, sf_dir, name, base_hash,
                                 f"loss::{name}")
            res["injected"] = inj

            if inj.get("hash_match"):
                res["recovery"] = "stage_resubmission"  # provisional;
                # event-log evidence enforced after parsing
                res["ok"] = True
            elif "error" in inj and inj["kill"].get("killed"):
                # designed fail-fast (localCheckpoint block loss) or a
                # genuine in-flight abort: the orchestrator answer is a
                # deterministic job retry on the degraded cluster
                sc.setLocalProperty("spark.jobGroup.id", f"retry::{name}")
                try:
                    r_hash, r_rows = _run_wrapped(spark, sf_dir, name, None)
                    res["retry_hash"] = r_hash
                    res["retry_rows"] = r_rows
                    res["recovery"] = "job_retry"
                    res["ok"] = r_hash == base_hash
                except Exception as exc:  # noqa: BLE001
                    res["ok"] = False
                    res["error"] = f"retry: {type(exc).__name__}: {exc}"[:300]
                finally:
                    sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                res["ok"] = False

            # resilient-mode leg: queries that needed a job retry must
            # survive IN-FLIGHT once checkpoint blocks are replicated
            if expect_ckpt and res.get("recovery") == "job_retry":
                for i, p in enumerate(cluster.workers):
                    if p is None or p.poll() is not None:
                        cluster.restart_worker(i)
                if _wait_executors(spark, 2):
                    os.environ["SPARK_GRAFT_CHECKPOINT_REPLICAS"] = "2"
                    try:
                        rep = _injected_once(
                            spark, cluster, sf_dir, name, base_hash,
                            f"replicated::{name}")
                    finally:
                        os.environ.pop("SPARK_GRAFT_CHECKPOINT_REPLICAS",
                                       None)
                    rep["ok"] = bool(rep.get("hash_match"))
                    res["replicated_leg"] = rep

            results[name] = res
            print(json.dumps({"query": name, **{
                k: v for k, v in res.items() if k != "injected"},
                "kill": res["injected"].get("kill")}), flush=True)

        # stamp the injection family each suite member stands in for
        # (observed from its builder — tools/family_census). The family
        # is a property of the BUILDER, not the scale, so the tier-10x
        # leg observes at sf0.001 rather than executing the iterative
        # builders' rounds against the full replica a second time.
        from tools.family_census import query_families

        census_dir = "/root/testdata/sf0.001" if tier10x else sf_dir
        for name, fam in query_families(spark, census_dir, suite).items():
            if name in results:
                results[name]["family"] = fam

        spark.stop()  # flush event log
    finally:
        cluster.__exit__(None, None, None)

    ev = _parse_eventlog(EVENTLOG_DIR)
    for name, res in results.items():
        m = ev.get(f"loss::{name}")
        if m:
            res["eventlog"] = m
        rm = ev.get(f"replicated::{name}")
        if rm and "replicated_leg" in res:
            res["replicated_leg"]["eventlog"] = rm
        # enforce evidence for the in-flight path: a "recovered" run
        # with no FetchFailed, no resubmitted stage and no lost-task
        # failure never actually depended on the dead worker — vacuous
        def _proven(proof: dict) -> bool:
            return bool(proof.get("fetch_failed")
                        or proof.get("resubmitted_stages")
                        or proof.get("resubmitted_tasks")
                        or proof.get("executor_lost_tasks"))

        if res.get("recovery") == "stage_resubmission" and res.get("ok"):
            if not _proven(m or {}):
                res["ok"] = False
                res["vacuous"] = True
        if "replicated_leg" in res:
            leg = res["replicated_leg"]
            if leg.get("ok") and not _proven(leg.get("eventlog") or {}):
                leg["ok"] = False
                leg["vacuous"] = True
            # a failed resilient-mode leg fails the QUERY: the artifact
            # must not claim n_ok with a dead leg buried inside it
            if not leg.get("ok"):
                res["ok"] = False

    failures = sum(1 for r in results.values() if not r.get("ok"))
    coverage: dict[str, list[str]] = {}
    for name, res in results.items():
        for fam in res.get("family", []):
            coverage.setdefault(fam, []).append(name)
    summary = {
        "n_queries": len(results),
        "n_ok": len(results) - failures,
        "family_coverage": coverage,
        "n_stage_resubmission": sum(
            1 for r in results.values()
            if r.get("recovery") == "stage_resubmission"),
        "n_job_retry": sum(
            1 for r in results.values() if r.get("recovery") == "job_retry"),
        "n_replicated_inflight": sum(
            1 for r in results.values()
            if r.get("replicated_leg", {}).get("ok")),
        "executors_removed_total": ev.get("", {}).get("executors_removed", 0),
        "topology": ("standalone master + 2 workers on distinct loopback "
                     "hostnames; victim worker SIGKILLed as a process "
                     "group (worker + executor) mid-final-stage"),
        "sf_dir": sf_dir,
        "mode": "tier_10x" if tier10x else ("quick" if quick else "suite"),
        "note": (
            "ok requires hash equality with the healthy baseline AND "
            "proven recovery: stage_resubmission needs FetchFailed / "
            "re-submitted stage attempts / executor-lost task failures "
            "in the query's job group; job_retry (the designed "
            "localCheckpoint fail-fast path) needs the rerun's hash to "
            "match; replicated_leg proves the same queries survive "
            "IN-FLIGHT with SPARK_GRAFT_CHECKPOINT_REPLICAS=2 "
            "(MEMORY_AND_DISK_2 checkpoint blocks)."),
        "results": results,
    }
    if out_path is not None:
        if tier10x:
            merge_tier_leg(out_path, summary)
        else:
            out_path.write_text(json.dumps(summary, indent=1) + "\n")
        print(f"wrote {out_path}: {summary['n_ok']}/{summary['n_queries']} ok",
              flush=True)
    else:
        print(json.dumps(summary), flush=True)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
