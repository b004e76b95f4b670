"""Repository benchmark: the nightly batch, and the query corpus with the
stream sinks, timed end to end, with a per-layer ledger from a traced run.

    python3 perfbench/run.py --workload nightly_batch --seed 1 --seconds 10 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` under
``.perfbench/`` in the root; results (with the host fingerprint and, for
``--trace 1``, the per-layer ledger) are written to ``.perfbench/results``.
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 4


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=["nightly_batch", "queries_streams"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _prepare_env(work: str) -> None:
    """One local Spark process sized to this host, every temporary file
    inside the checkout, and the engine importable by Python workers."""
    from host import nproc

    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")


def _conf(work: str, event_log: bool) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        # no hsperfdata file under the system /tmp
        "spark.driver.extraJavaOptions":
            f"-Xlog:disable -XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if event_log:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + log_dir,
                     "spark.eventLog.compress": "false"})
    return conf


def _session(b, work: str, event_log: bool, name: str):
    from etl_process_spark.session import get_spark

    if b.spark is not None:
        b.spark.stop()
    t0 = time.perf_counter()
    b.spark = get_spark(f"perfbench-{name}", extra_conf=_conf(work, event_log))
    return time.perf_counter() - t0


def _stop_engine(b) -> None:
    """Stop the Spark context, then the JVM that hosts it: closing its
    stdin makes the gateway exit, and this waits until it has."""
    from pyspark import SparkContext

    if b.spark is not None:
        b.spark.stop()
        b.spark = None
    gateway = SparkContext._gateway
    if gateway is None:
        return
    SparkContext._gateway = SparkContext._jvm = None
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # already gone: the wait below still holds
        pass
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def _warm(b, work: str, i: int) -> float:
    from harness import warm_engine

    t0 = time.perf_counter()
    warm_engine(b.spark, os.path.join(work, f"warm{i}"))
    return time.perf_counter() - t0


def _prime(b, mod, inputs, work: str) -> float:
    """One untimed pass of a long-running workload over a tiny input, so
    measured operations do not pay its code paths' first-use (JIT) cost.
    Workloads without a ``prime`` are measured from their first use."""
    if not hasattr(mod, "prime"):
        return 0.0
    t0 = time.perf_counter()
    mod.prime(b, inputs, os.path.join(work, "prime"))
    return time.perf_counter() - t0


def end_to_end(setups: list[float], rec: dict) -> dict:
    from host import median, tail

    return {
        # the first set-up also launches the JVM, and its time is mostly
        # host noise; the later ones still speed up as the JIT warms
        "setup_s": median(setups[1:]),
        "op_s.p50": median(rec["ops"]),
        "op_s.tail": tail(rec["ops"])["value"],
        "total_s": median(rec["totals"]),
    }


E2E_UNITS = {"setup_s": "s", "op_s.p50": "s", "op_s.tail": "s", "total_s": "s"}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "etl_process_spark", "pipeline", "runner.py")):
        print("perfbench: engine package etl_process_spark not found next to "
              f"{HERE}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)
    from host import become_subreaper, reap_children

    # every process the run starts ends before it exits, on every path out
    become_subreaper()
    signal.signal(signal.SIGTERM, _terminate)
    try:
        return _run(args)
    finally:
        reap_children()


def _run(args: argparse.Namespace) -> int:
    import nightly
    import queries_streams
    from harness import Bench
    from host import TreeMemory, fingerprint, median, summary, tail
    from layers import UNITS, layer_metrics
    from tracing import Tracer, attribute, install, read_event_log, uninstall

    mod = {"nightly_batch": nightly, "queries_streams": queries_streams}[args.workload]
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)

    t0 = time.perf_counter()
    inputs = mod.generate(args.seed, os.path.join(work, "inputs"))
    gen_s = time.perf_counter() - t0

    mem = TreeMemory()
    b = Bench(args.workload, Tracer(False), mem)
    try:
        starts, warms = [], []
        for i in range(SETUPS):
            starts.append(_session(b, work, False, args.workload))
            warms.append(_warm(b, work, i))
        setups = [s + w for s, w in zip(starts, warms)]
        prime_s = _prime(b, mod, inputs, work)
        host = fingerprint(ROOT, b.spark)
        rec = mod.measure(b, inputs, args.seconds, os.path.join(work, "run"))
        chk = rec.pop("checker")
        result = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                  "trace": args.trace, "host": host, "generate_s": gen_s,
                  "setup": {"session_start_s": starts, "warmup_s": warms,
                            "setup_s": setups, "prime_s": prime_s},
                  "samples": rec, "op_tail": tail(rec["ops"]),
                  "problems": chk.problems, "selfcheck": chk.selfcheck,
                  "peak_rss_mb": mem.peak_mb(),
                  "hygiene": {"leaked_rdds": b.leaked_rdds,
                              "leaked_cached_plans": b.leaked_plans}}
        metrics = end_to_end(setups, rec)
        if args.trace:
            # The traced pass and an untraced reference pass, each on a
            # fresh context set up the same way, both after the full pass
            # above. The reference runs last, so any first-use cost still
            # left favours it: the overhead errs high, never low.
            _session(b, work, True, args.workload + "-traced")
            _warm(b, work, SETUPS)
            tracer = Tracer(True)
            b.tracer = tracer
            b.leaked_rdds = b.leaked_plans = 0
            install(tracer)
            trec = mod.measure(b, inputs, args.seconds, os.path.join(work, "traced"))
            tchk = trec.pop("checker")
            uninstall()
            leaks = (b.leaked_rdds, b.leaked_plans)
            _session(b, work, False, args.workload + "-reference")
            log = read_event_log(os.path.join(work, "eventlog"))
            b.tracer = Tracer(False)
            _warm(b, work, SETUPS + 1)
            rrec = mod.measure(b, inputs, args.seconds, os.path.join(work, "reference"))
            rchk = rrec.pop("checker")
            _stop_engine(b)
            b.leaked_rdds, b.leaked_plans = leaks
            ledger = attribute(tracer.spans, log)
            traced_total = median(trec["totals"])
            reference_total = median(rrec["totals"])
            metrics = layer_metrics(args.workload, tracer, ledger, trec, b,
                                    starts, warms, traced_total,
                                    traced_total - reference_total)
            metrics["noop_rerun_s"] = median(rec["reruns"])
            ops = [r for r in ledger["per_op"] if r["kind"] == "op"]
            result["ledger"] = {
                "event_log": log.get("path"), "spans": len(tracer.spans),
                "op_timings": {k: summary([r[k] for r in ops])
                               for k in ("wall_s", "run_ms", "cpu_ms", "gc_ms", "wait_ms")},
                **ledger}
            result["traced_samples"] = trec
            result["reference_samples"] = rrec
            for c in (tchk, rchk):
                result["problems"] += c.problems
                chk.attempted += c.attempted
                chk.failed += c.failed
                chk.selfcheck = chk.selfcheck and c.selfcheck
    finally:
        _stop_engine(b)
        shutil.rmtree(work, ignore_errors=True)

    units = UNITS if args.trace else E2E_UNITS
    out = {
        "correct": bool(chk.failed == 0 and chk.selfcheck and chk.attempted > 0),
        "attempted": chk.attempted,
        "failed": chk.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    result["result"] = out
    os.makedirs(os.path.join(base, "results"), exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(base, "results",
                           f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}.json"),
              "w") as fh:
        fh.write(json.dumps(result, indent=1, default=str).replace(ROOT, "<checkout>"))
    for p in result["problems"]:
        print("perfbench: check failed:", p, file=sys.stderr)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
