"""Scale-growth curve: wall time of the heaviest queries vs corpus size.

The skew rehearsal (BENCH_SKEW.json) proved the plans survive COMPOSITION
of pathologies; this tool measures ASYMPTOTICS — the missing evidence for
the 100-TB design claims. It synthesizes a ~10x replica of the sf0.1
corpus (engine-side, into /tmp — TESTDATA.md forbids touching
/root/testdata) and times the heaviest queries at three scales:
sf0.01, sf0.1, and the 10x replica, then reports each query's growth
exponent e where time ~ rows^e (e = log(t2/t1) / log(rows2/rows1),
computed against the query's own DRIVER table, since the tables grow at
different rates between the driver scales).

Replication is NOT naive copying — a verbatim copy would multiply the
near-duplicate structure quadratically (every doc would gain 10 exact
twins, so dup-pair OUTPUT would grow 100x and any measured super-
linearity would be the corpus' fault, not the plan's). Instead each
replica is decorrelated while preserving per-replica structure:

* documents: ids offset; text passed through a per-replica substitution
  cipher (F.translate over a rotated alphabet) — lengths, whitespace and
  within-replica dup structure are preserved exactly, but shingles
  differ across replicas, so dup pairs scale ~linearly as they would in
  a real 10x crawl.
* embeddings: ids offset; IVF labels re-keyed per replica (cells scale
  WITH the corpus — the standard IVF practice of training more
  centroids at larger n, keeping per-cell density constant); vectors
  circularly rotated by a per-replica dim shift (norms preserved,
  cross-replica cosines decorrelated).
* lineitem/orders/part/customer/supplier/events: all foreign keys
  offset consistently per replica — the join graph becomes 10 disjoint
  copies, exactly how a 10x order book behaves.
* region/nation: dimension tables, copied as-is (FKs stay valid).

Usage: python tools/bench_scale.py [--replicas N] [--out PATH]
Writes BENCH_SCALE.json. Run SERIALLY (no concurrent Spark/pytest —
timings carry 1.5-3x noise under parallel load).

--big N (with --big-only to skip re-timing the 10-query battery) adds a
THIRD decade for the two ~linear queries (part_bfs_reach 0.95,
image_phash_dup_pairs 0.91 at 10x): an N-x replica of only the tables
they read (lineitem 60M rows at N=100), built by crossJoin against
spark.range(N) — planner-cheap where a 100-branch union is not — with
the same key-offset decorrelation (per-replica seeds, disjoint join
graphs, doc_id-derived image pairs stay within-replica). The text
cipher / vector rotation are deliberately skipped: neither query reads
text or embeddings, and the cipher's 26-rotation alphabet cycles out at
100 replicas anyway. The big tier also records each query's plan shape
(join strategies, exchanges) at every scale, so a broadcast->SMJ or
AQE transition across the decades is named in the artifact rather than
inferred from the exponent.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

SRC_DIR = "/root/testdata/sf0.1"
SMALL_DIR = "/root/testdata/sf0.01"
OUT_DIR = "/tmp/spark_graft_scale10"

# query -> the table whose cardinality drives its cost
HEAVY = {
    "tokenizer_bpe_deep_merges": "documents",
    "iterative_bpe_merges": "documents",
    "margin_bitext_pairs": "embeddings",
    "neardup_method_agreement": "documents",
    "image_phash_dup_pairs": "documents",
    "part_bfs_reach": "lineitem",
    "copurchase_communities": "lineitem",
    "allpairs_jaccard_dups": "documents",
    "neardup_clusters_star": "documents",
    "simhash_dup_pairs": "documents",
}

LOWER = "abcdefghijklmnopqrstuvwxyz"
UPPER = LOWER.upper()

# id-column offsets: (table, column, gap) — gaps are even round numbers
# above the sf0.1 max of each key domain, so replica key spaces are
# disjoint and parity/grouping rules stay intact
GAPS = {
    "doc": 1_000_000,
    "vec": 1_000_000,
    "order": 10_000_000,
    "part": 1_000_000,
    "supp": 100_000,
    "cust": 1_000_000,
    "event": 10_000_000,
    "user": 1_000_000,
}
N_LABELS = 10  # embeddings.label domain at sf0.1 (IVF cells)
EMB_DIM = 64


def _cipher(col, i: int):
    """Per-replica substitution cipher: rotate both alphabets by 5·i.
    Replica 0 is the identity; lengths and word boundaries are preserved
    so per-replica dedup/BPE structure is EXACTLY the original's."""
    rot = (5 * i) % 26
    if rot == 0:
        return col
    to = LOWER[rot:] + LOWER[:rot] + UPPER[rot:] + UPPER[:rot]
    return F.translate(col, LOWER + UPPER, to)


def _rotate_vec(col, i: int):
    """Circular dim shift by 7·i mod 64: preserves the norm and the
    value multiset, decorrelates cosines across replicas."""
    s = (7 * i) % EMB_DIM
    if s == 0:
        return col
    return F.concat(
        F.slice(col, s + 1, EMB_DIM - s), F.slice(col, 1, s)
    )


def _replica(table: str, df, i: int):
    if table == "documents":
        return df.withColumn("doc_id", F.col("doc_id") + i * GAPS["doc"]) \
                 .withColumn("text", _cipher(F.col("text"), i))
    if table == "embeddings":
        return (
            df.withColumn("vec_id", F.col("vec_id") + i * GAPS["vec"])
              .withColumn("label", F.col("label") + i * N_LABELS)
              .withColumn("embedding", _rotate_vec(F.col("embedding"), i))
        )
    if table == "lineitem":
        return (
            df.withColumn("l_orderkey", F.col("l_orderkey") + i * GAPS["order"])
              .withColumn("l_partkey", F.col("l_partkey") + i * GAPS["part"])
              .withColumn("l_suppkey", F.col("l_suppkey") + i * GAPS["supp"])
        )
    if table == "orders":
        return (
            df.withColumn("o_orderkey", F.col("o_orderkey") + i * GAPS["order"])
              .withColumn("o_custkey", F.col("o_custkey") + i * GAPS["cust"])
        )
    if table == "part":
        return df.withColumn("p_partkey", F.col("p_partkey") + i * GAPS["part"])
    if table == "supplier":
        return df.withColumn("s_suppkey", F.col("s_suppkey") + i * GAPS["supp"])
    if table == "customer":
        return df.withColumn("c_custkey", F.col("c_custkey") + i * GAPS["cust"])
    if table == "events":
        return (
            df.withColumn("event_id", F.col("event_id") + i * GAPS["event"])
              .withColumn("user_id", F.col("user_id") + i * GAPS["user"])
        )
    return df  # region, nation: dimension tables, verbatim


def build_scaled_corpus(spark, out_dir: str, n_replicas: int) -> dict[str, int]:
    """Synthesize the n_replicas-x corpus under out_dir; returns row
    counts per table. Idempotent via a marker file."""
    out = Path(out_dir)
    marker = out / f".complete_{n_replicas}x"
    tables = ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split()
    if marker.exists():
        return json.loads(marker.read_text())
    if out.exists():
        shutil.rmtree(out)
    out.mkdir(parents=True)
    counts: dict[str, int] = {}
    for t in tables:
        df = spark.read.parquet(f"{SRC_DIR}/{t}.parquet")
        if t in ("region", "nation"):
            scaled = df
        else:
            scaled = _replica(t, df, 0)
            for i in range(1, n_replicas):
                scaled = scaled.unionByName(_replica(t, df, i))
        scaled.write.mode("overwrite").parquet(f"{out_dir}/{t}.parquet")
        counts[t] = spark.read.parquet(f"{out_dir}/{t}.parquet").count()
        print(f"built {t}: {counts[t]} rows", flush=True)
    marker.write_text(json.dumps(counts))
    return counts


BIG_DIR = "/tmp/spark_graft_scale_big"
BIG_QUERIES = {"part_bfs_reach": "lineitem", "image_phash_dup_pairs": "documents"}
BIG_TABLES = ("documents", "lineitem", "part", "embeddings")

# the CORRECTNESS_100X heavy family (tools/run_differential_100x.FAMILY
# — duplicated here, that module imports this one) with each query's
# cost-driving table; --family times these at the 10x and Nx corpora
# and records growth exponents, so the sub-linear claim covers every
# query the 100x differential proved correct
FAMILY_100X = {
    "dedup_exact": "documents",
    "embedding_topk_cosine": "embeddings",
    "bm25_search_topk": "documents",
    "simhash_dup_pairs": "documents",
    "lsh_candidate_pairs": "documents",
    "part_bfs_reach": "lineitem",
    "image_phash_dup_pairs": "documents",
}

DIGITS = "0123456789"


def _cipher_wide(col, i: int):
    """Per-replica substitution cipher with a period that outlives 100
    replicas: lowercase rotated by 5i, uppercase by 7i (both mod 26),
    digits by i (mod 10). Two replicas collide only when i ≡ j
    (mod 26) AND (mod 10), i.e. mod 130 — every pair of the 100 big-tier
    replicas gets distinct text. (Residual caveat, documented in the
    100x artifact: a document containing NO letters of one case and no
    digits can still find a twin at the shorter sub-period; the corpus'
    synthetic prose makes that set empty in practice.) Like ``_cipher``
    it preserves lengths, word boundaries and within-replica duplicate
    structure exactly, so dedup outputs scale ~linearly with replicas —
    a verbatim 100x copy would instead square the near-dup pair count
    and bury the differential in cross-replica twins."""
    rl, ru, rd = (5 * i) % 26, (7 * i) % 26, i % 10
    if rl == 0 and ru == 0 and rd == 0:
        return col
    to = (LOWER[rl:] + LOWER[:rl] + UPPER[ru:] + UPPER[:ru]
          + DIGITS[rd:] + DIGITS[:rd])
    return F.translate(col, LOWER + UPPER + DIGITS, to)


def build_big_corpus(spark, out_dir: str, n_replicas: int) -> dict[str, int]:
    """N-x replica of only BIG_TABLES via crossJoin(range(N)) + key
    offsets — the same decorrelation rule as ``_replica``, with the
    text cipher swapped for ``_cipher_wide`` (the 10x cipher's 26-letter
    rotation cycles out below 100 replicas) and the embeddings vector
    rotation kept as-is (period 64: replicas i and i+64 share a
    rotation, so ~36% of vectors have one exact cross-replica twin —
    harmless for top-k/IVF correctness, ties break on id in both
    engines; documented rather than engineered away)."""
    out = Path(out_dir)
    # v2: wide-ciphered documents + embeddings table added — a marker
    # from the v1 builder must NOT satisfy this one
    marker = out / f".complete_{n_replicas}x_v2"
    if marker.exists():
        return json.loads(marker.read_text())
    if out.exists():
        shutil.rmtree(out)
    out.mkdir(parents=True)
    rep = F.col("__rep")
    offsets = {
        "documents": {"doc_id": GAPS["doc"]},
        "lineitem": {"l_orderkey": GAPS["order"], "l_partkey": GAPS["part"],
                     "l_suppkey": GAPS["supp"]},
        "part": {"p_partkey": GAPS["part"]},
        "embeddings": {"vec_id": GAPS["vec"]},
    }
    counts: dict[str, int] = {}
    for t in BIG_TABLES:
        df = spark.read.parquet(f"{SRC_DIR}/{t}.parquet")
        r = spark.range(n_replicas).select(F.col("id").alias("__rep"))
        x = df.crossJoin(F.broadcast(r))
        for col, gap in offsets[t].items():
            x = x.withColumn(col, F.col(col) + rep * gap)
        if t == "documents":
            # translate() needs a constant mapping and __rep is a
            # column here (crossJoin replication, not a union of N
            # branches) — so the wide cipher is applied as codepoint
            # arithmetic parameterized by __rep, one expression for all
            # replicas (bit-equal to _cipher_wide per literal i).
            x = x.withColumn("text", _cipher_wide_expr(F.col("text"), rep))
        if t == "embeddings":
            x = x.withColumn("label", F.col("label") + rep * N_LABELS)
            x = x.withColumn(
                "embedding", _rotate_vec_expr(F.col("embedding"), rep)
            )
        x.drop("__rep").repartition(32).write.mode("overwrite").parquet(
            f"{out_dir}/{t}.parquet"
        )
        counts[t] = spark.read.parquet(f"{out_dir}/{t}.parquet").count()
        print(f"built big {t}: {counts[t]} rows", flush=True)
    marker.write_text(json.dumps(counts))
    return counts


def _cipher_wide_expr(col, rep):
    """``_cipher_wide`` for a NON-LITERAL replica column: translate()
    needs constant mappings, so the rotation is done with codepoint
    arithmetic over the exploded string — transform() on split('')
    keeps it JVM-side. Identical mapping to _cipher_wide(col, i) for
    every literal i (pinned by a test)."""
    rl, ru, rd = (rep * 5) % 26, (rep * 7) % 26, rep % 10

    def _rot(ch, base: int, span: int, r):
        code = F.ascii(ch)
        return F.char(
            (code - base + r) % span + base
        )

    return F.array_join(
        F.transform(
            F.split(col, ""),
            lambda ch: F.when(
                (ch >= "a") & (ch <= "z"), _rot(ch, 97, 26, rl)
            ).when(
                (ch >= "A") & (ch <= "Z"), _rot(ch, 65, 26, ru)
            ).when(
                (ch >= "0") & (ch <= "9"), _rot(ch, 48, 10, rd)
            ).otherwise(ch),
        ),
        "",
    )


def _rotate_vec_expr(col, rep):
    """``_rotate_vec`` for a non-literal replica column: circular dim
    shift by 7·rep mod 64 via slice() with computed offsets."""
    s = (rep * 7) % EMB_DIM
    return F.when(s == 0, col).otherwise(
        F.concat(
            F.slice(col, s + 1, F.lit(EMB_DIM) - s), F.slice(col, 1, s)
        )
    )


def _loop_var(code, var: str):
    """Value of the local ``var`` in the innermost live frame running
    ``code`` — None when no such frame is on the stack, or when it has
    not bound ``var`` yet (before its loop starts)."""
    frame = sys._getframe(1)
    while frame is not None:
        if frame.f_code is code:
            return frame.f_locals.get(var)
        frame = frame.f_back
    return None


def _plan_shape(spark, sf_dir: str, name: str) -> dict:
    """Join/exchange counts of the query's FINAL plan, plus — for
    iterative queries — the per-round shapes that checkpoint lineage
    truncation hides from the final plan. While the builder runs,
    ``DataFrame.localCheckpoint`` is wrapped: a checkpoint taken inside
    a hop of ``operators.graph.bfs_distances`` records that hop's plan
    and materializes the hop as it records it, so round N's recorded
    plan is exactly the truncated-lineage plan that executes (not rounds
    1..N's accumulated lineage). The wrapper is removed on return."""
    from pyspark.sql.classic.dataframe import DataFrame

    from etl_process_spark.operators.graph import bfs_distances
    from etl_process_spark.plans import (
        broadcast_join_count,
        codegen_span_count,
        exchange_count,
        sortmerge_join_count,
    )
    from etl_process_spark.queries import QUERIES

    rounds: list[dict] = []
    local_checkpoint = DataFrame.localCheckpoint

    def probe(self, eager=True, storageLevel=None):
        out = local_checkpoint(self, eager, storageLevel=storageLevel)
        hop = _loop_var(bfs_distances.__code__, "hop")
        if hop is not None:
            # after the checkpoint call: the shape AQE actually ran
            rounds.append({
                "round": hop,
                "broadcast_joins": broadcast_join_count(self),
                "sortmerge_joins": sortmerge_join_count(self),
                "exchanges": exchange_count(self),
            })
            out.count()  # materialize: next round's lineage starts here
        return out

    DataFrame.localCheckpoint = probe
    try:
        df = QUERIES[name].builder(spark, sf_dir)
        shape = {
            "broadcast_joins": broadcast_join_count(df),
            "sortmerge_joins": sortmerge_join_count(df),
            "exchanges": exchange_count(df),
            "codegen_spans": codegen_span_count(df),
        }
    finally:
        DataFrame.localCheckpoint = local_checkpoint
    if rounds:
        shape["rounds"] = rounds
    return shape


def _warmup(spark, sf_dir: str, tables=None) -> None:
    from etl_process_spark.queries.registry import tbl

    for t in tables or ("part", "orders", "lineitem", "documents", "embeddings"):
        tbl(spark, sf_dir, t).count()
    spark.range(64).mapInPandas(lambda it: it, "id long").count()


def _unpersist_all(spark) -> None:
    """Drop every persistent RDD (localCheckpoint blocks included) so
    the next timed run starts from a clean storage pool. ContextCleaner
    does this asynchronously when Python references die, but between
    back-to-back runs of a checkpoint-heavy query the lag DOUBLES
    cached storage — observed as a flaky executor java.lang.OOM on
    part_bfs_reach's run 2 at the 100x corpus."""
    gc.collect()
    for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        jrdd.unpersist(True)


def _time_queries(spark, sf_dir: str, names, tables=None) -> dict[str, float]:
    from etl_process_spark.queries import QUERIES

    _warmup(spark, sf_dir, tables)
    timings: dict[str, float] = {}
    for name in names:
        runs = []
        for _ in range(2):
            start = time.perf_counter()
            QUERIES[name].builder(spark, sf_dir).count()
            runs.append(time.perf_counter() - start)
            _unpersist_all(spark)
        if min(runs) > 0.3 and max(runs) > 2 * min(runs):
            start = time.perf_counter()
            QUERIES[name].builder(spark, sf_dir).count()
            runs.append(time.perf_counter() - start)
            _unpersist_all(spark)
        timings[name] = round(min(runs), 3)
        print(f"  {sf_dir}: {name} {timings[name]:.2f}s", flush=True)
    return timings


def run_big_tier(spark, out_path: Path, n_big: int) -> None:
    """Extend an existing BENCH_SCALE.json with the N-x decade for
    BIG_QUERIES: timings, exp_bigger (10x -> Nx), and the per-scale plan
    shapes that name any join-strategy transition."""
    existing = json.loads(out_path.read_text())
    counts_big = build_big_corpus(spark, BIG_DIR, n_big)
    label = f"{n_big}x"
    print(f"== timing at {label} ({BIG_DIR})", flush=True)
    timings = _time_queries(spark, BIG_DIR, list(BIG_QUERIES), BIG_TABLES)
    existing["scales"][label] = {
        "dir": BIG_DIR,
        **{t: counts_big[t] for t in ("documents", "lineitem")},
    }
    base_label = f"{existing['replicas']}x"  # not a literal '10x': the
    # battery may have been run with --replicas N != 10
    shapes: dict[str, dict] = {}
    dropped = [
        lbl for lbl, scale in existing["scales"].items()
        if not Path(scale["dir"]).exists()
    ]
    if dropped:
        print(f"plan_shapes: skipping scales with missing dirs: {dropped} "
              "(earlier /tmp corpora wiped; rerun the full battery to "
              "rebuild them)", flush=True)
    for name, drv in BIG_QUERIES.items():
        q = existing["queries"][name]
        q["sec"][label] = timings[name]
        q["driver_rows"][label] = counts_big[drv]
        t3, t4 = q["sec"][base_label], timings[name]
        n3, n4 = q["driver_rows"][base_label], counts_big[drv]
        q["exp_bigger"] = round(math.log(t4 / t3) / math.log(n4 / n3), 3)
        shapes[name] = {
            lbl: _plan_shape(spark, scale["dir"], name)
            for lbl, scale in existing["scales"].items()
            if lbl not in dropped
        }
        print(f"{name}: exp 10x->{label} = {q['exp_bigger']}, "
              f"plans = {shapes[name]}", flush=True)
    existing["plan_shapes"] = shapes
    existing["big_note"] = (
        f"{label} tier replicates only {list(BIG_TABLES)} (crossJoin x "
        f"range({n_big}) + key offsets; no text cipher — unused by these "
        "queries). plan_shapes records join strategies per scale so a "
        "broadcast->SMJ/AQE transition across decades is named, not "
        "inferred."
    )
    out_path.write_text(json.dumps(existing, indent=1) + "\n")
    print(f"wrote {out_path}")


def _family_leg(sf_dir: str, names: list[str]) -> None:
    """Internal: time the given FAMILY_100X queries at one corpus dir in
    THIS process and print one JSON line. run_family_tier spawns a
    fresh subprocess PER QUERY: a shared-JVM battery inflated the
    later entries ~1.5-2.6x (image_phash 94.8s after 13 heavy timings,
    65s after 6, 36s in a fresh JVM — GC/heap/shuffle-dir buildup, not
    the plan), so every recorded number is a fresh-JVM min-of-runs."""
    from etl_process_spark.session import get_spark

    spark = get_spark("bench_scale_family_leg")
    tables = BIG_TABLES if sf_dir == BIG_DIR else None
    timings = _time_queries(spark, sf_dir, names, tables)
    print("FAMILY_LEG_RESULT " + json.dumps(timings), flush=True)


def _family_leg_subprocess(sf_dir: str) -> dict[str, float]:
    import subprocess

    out: dict[str, float] = {}
    for name in FAMILY_100X:
        proc = subprocess.run(
            [sys.executable, __file__, "--family-leg", sf_dir,
             "--family-query", name],
            capture_output=True, text=True, check=True,
        )
        for line in proc.stdout.splitlines():
            if line.startswith("FAMILY_LEG_RESULT "):
                out.update(json.loads(line[len("FAMILY_LEG_RESULT "):]))
                break
        else:
            raise RuntimeError(
                f"no FAMILY_LEG_RESULT for {name}:\n{proc.stdout[-2000:]}")
        print(f"  {sf_dir}: {name} {out[name]:.2f}s [fresh JVM]",
              flush=True)
    return out


def run_family_tier(spark, out_path: Path, n_big: int) -> None:
    """Time the CORRECTNESS_100X heavy family at the 10x replica and the
    N-x big corpus; record per-query growth exponents into a
    ``family_100x`` section of BENCH_SCALE.json. The 100x differential
    proved these queries CORRECT at this scale; this records whether
    their cost grows like their driver table (e ~ 1.0) or worse.
    Each scale leg runs in its own subprocess (fresh JVM) so the 100x
    leg's timings don't inherit heap buildup from the 10x leg."""
    import duckdb

    existing = json.loads(out_path.read_text())
    counts_big = build_big_corpus(spark, BIG_DIR, n_big)
    counts_10x = build_scaled_corpus(spark, OUT_DIR, 10)
    counts_sf01 = {
        t: duckdb.sql(
            f"SELECT count(*) FROM '{SRC_DIR}/{t}.parquet'"
        ).fetchone()[0]
        for t in set(FAMILY_100X.values())
    }
    names = list(FAMILY_100X)
    print(f"== family tier: timing at sf0.1 ({SRC_DIR}) [fresh JVM]",
          flush=True)
    t01 = _family_leg_subprocess(SRC_DIR)
    print(f"== family tier: timing at 10x ({OUT_DIR}) [fresh JVM]",
          flush=True)
    t10 = _family_leg_subprocess(OUT_DIR)
    print(f"== family tier: timing at {n_big}x ({BIG_DIR}) [fresh JVM]",
          flush=True)
    tbig = _family_leg_subprocess(BIG_DIR)
    section: dict = {
        "replicas_big": n_big,
        "dirs": {"sf0.1": SRC_DIR, "10x": OUT_DIR, f"{n_big}x": BIG_DIR},
        "note": ("exp_small = sf0.1 -> 10x, exp_big = 10x -> "
                 f"{n_big}x; exp = log(t2/t1)/log(rows2/rows1) on the "
                 "query's driver table; ~1.0 = linear in its input. "
                 "Queries here are exactly CORRECTNESS_100X.json's "
                 "results set — correctness and cost growth now cover "
                 "the same family across two decades. Every number is "
                 "a fresh-JVM-per-query min-of-runs."),
        "queries": {},
    }

    def _exp(t1, t2, n1, n2) -> float:
        return round(math.log(t2 / t1) / math.log(n2 / n1), 3)

    for name in names:
        drv = FAMILY_100X[name]
        n0, n1, n2 = counts_sf01[drv], counts_10x[drv], counts_big[drv]
        t0, t1, t2 = t01[name], t10[name], tbig[name]
        section["queries"][name] = {
            "driver_table": drv,
            "sec": {"sf0.1": t0, "10x": t1, f"{n_big}x": t2},
            "driver_rows": {"sf0.1": n0, "10x": n1, f"{n_big}x": n2},
            "exp_small": _exp(t0, t1, n0, n1),
            "exp_big": _exp(t1, t2, n1, n2),
        }
        q = section["queries"][name]
        print(f"{name}: {t0:.2f}s @sf0.1 -> {t1:.2f}s @10x -> "
              f"{t2:.2f}s @{n_big}x, exp_small = {q['exp_small']}, "
              f"exp_big = {q['exp_big']}", flush=True)
    existing["family_100x"] = section
    out_path.write_text(json.dumps(existing, indent=1) + "\n")
    print(f"wrote {out_path} [family_100x]")
    run_family_shapes(spark, out_path, n_big)


def run_family_shapes(spark, out_path: Path, n_big: int) -> None:
    """Record each family query's physical plan shape at the 10x and
    N-x corpora into family_100x.plan_shapes — a broadcast->SMJ or
    exchange-count transition across the decade is then NAMED in the
    artifact (the big tier's convention) instead of inferred from a
    bent exponent. Not timing-sensitive: runs in the orchestrating
    session after the timing subprocesses."""
    existing = json.loads(out_path.read_text())
    section = existing.get("family_100x")
    if not section:
        raise RuntimeError("family_100x section missing — run --family first")
    label = f"{n_big}x"
    shapes: dict[str, dict] = {}
    for name in FAMILY_100X:
        shapes[name] = {
            "10x": _plan_shape(spark, OUT_DIR, name),
            label: _plan_shape(spark, BIG_DIR, name),
        }
        print(f"plan shapes {name}: {shapes[name]}", flush=True)
    section["plan_shapes"] = shapes
    out_path.write_text(json.dumps(existing, indent=1) + "\n")
    print(f"wrote {out_path} [family_100x.plan_shapes]")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--replicas", type=int, default=10)
    ap.add_argument("--big", type=int, default=0,
                    help="also time BIG_QUERIES at an N-x replica")
    ap.add_argument("--big-only", action="store_true",
                    help="skip the 10-query battery; extend the existing "
                         "artifact with the --big tier")
    ap.add_argument("--family", type=int, default=0,
                    help="time the CORRECTNESS_100X family at 10x + N-x "
                         "and record growth exponents (family_100x "
                         "section); skips the main battery")
    ap.add_argument("--family-leg", default=None, metavar="DIR",
                    help="internal: time family queries at one corpus dir "
                         "in this process and print a JSON line")
    ap.add_argument("--family-query", default=None, metavar="NAME",
                    help="internal: restrict --family-leg to one query")
    ap.add_argument("--family-shapes", type=int, default=0, metavar="N",
                    help="record plan shapes for the family at 10x + N-x "
                         "into an existing family_100x section")
    ap.add_argument("--out", default=str(
        Path(__file__).resolve().parent.parent / "BENCH_SCALE.json"))
    args = ap.parse_args()

    if args.family_leg:
        names = ([args.family_query] if args.family_query
                 else list(FAMILY_100X))
        _family_leg(args.family_leg, names)
        return

    from etl_process_spark.session import get_spark

    spark = get_spark("bench_scale")
    if args.family_shapes:
        run_family_shapes(spark, Path(args.out), args.family_shapes)
        return
    if args.family:
        run_family_tier(spark, Path(args.out), args.family)
        return
    if args.big_only:
        run_big_tier(spark, Path(args.out), args.big or 100)
        return
    counts_10x = build_scaled_corpus(spark, OUT_DIR, args.replicas)

    import duckdb

    def table_counts(sf_dir: str) -> dict[str, int]:
        return {
            t: duckdb.sql(
                f"SELECT count(*) FROM '{sf_dir}/{t}.parquet'"
            ).fetchone()[0]
            for t in ("documents", "embeddings", "lineitem")
        }

    scales = [
        ("sf0.01", SMALL_DIR, table_counts(SMALL_DIR)),
        ("sf0.1", SRC_DIR, table_counts(SRC_DIR)),
        (f"{args.replicas}x", OUT_DIR,
         {t: counts_10x[t] for t in ("documents", "embeddings", "lineitem")}),
    ]
    names = list(HEAVY)
    results: dict[str, dict[str, float]] = {}
    for label, sf_dir, _n in scales:
        print(f"== timing at {label} ({sf_dir})", flush=True)
        results[label] = _time_queries(spark, sf_dir, names)

    per_query = {}
    for name, drv in HEAVY.items():
        t1, t2, t3 = (results[s[0]][name] for s in scales)
        n1, n2, n3 = (s[2][drv] for s in scales)
        exp_small = (math.log(t2 / t1) / math.log(n2 / n1)) if n2 != n1 else None
        exp_big = math.log(t3 / t2) / math.log(n3 / n2)
        per_query[name] = {
            "driver_table": drv,
            "sec": {s[0]: results[s[0]][name] for s in scales},
            "driver_rows": {s[0]: s[2][drv] for s in scales},
            # exp_small carries fixed per-query overhead (~0.3-1s of job
            # scheduling dominates sub-second runs) -> systematically LOW;
            # exp_big (sf0.1 -> 10x) is the honest asymptotic signal
            "exp_small": round(exp_small, 3) if exp_small is not None else None,
            "exp_big": round(exp_big, 3),
        }
        print(f"{name}: exp sf0.01->sf0.1 = {per_query[name]['exp_small']}, "
              f"sf0.1->{args.replicas}x = {per_query[name]['exp_big']}",
              flush=True)

    out = {
        "replicas": args.replicas,
        "scales": {s[0]: {"dir": s[1], **s[2]} for s in scales},
        "queries": per_query,
        "note": ("exp = log(t2/t1)/log(rows2/rows1) on the query's driver "
                 "table; ~1.0 = linear, sub-linear at small scales means "
                 "fixed overhead still dominates"),
    }
    Path(args.out).write_text(json.dumps(out, indent=1) + "\n")
    print(f"wrote {args.out}")
    if args.big:
        run_big_tier(spark, Path(args.out), args.big)


if __name__ == "__main__":
    main()
