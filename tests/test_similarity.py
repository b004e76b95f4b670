"""IVF search quality: exactness at full probe, recall threshold and
monotone recall/scan trade-off at partial probe — measured against the
engine's own brute-force path on the sf0.01 embeddings (500 × 64, 10
weakly-separated label cells)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_process_spark.operators.similarity import cosine_topk, ivf_search

SF_DIR = "/root/testdata/sf0.01"
K = 10


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


def _query_vec(emb, vec_id):
    return F.broadcast(
        emb.filter(F.col("vec_id") == vec_id).select(F.col("embedding").alias("q"))
    )


def _ids(df):
    return [r["vec_id"] for r in df.collect()]


def test_full_probe_equals_brute_force(emb):
    q = _query_vec(emb, 0)
    exact = _ids(cosine_topk(emb, q, k=K))
    full = _ids(ivf_search(emb, q, k=K, nprobe=10))
    assert full == exact


@pytest.mark.slow  # corpus-sweep/long-property tier (see pytest.ini)
def test_partial_probe_recall_above_threshold(emb):
    """nprobe=6 of 10 cells: scan fraction ~0.6 must still recover most
    true neighbors (offline measurement on this corpus: mean ~0.72,
    min 0.5 over 30 queries — threshold set with margin)."""
    recalls = []
    for qid in range(10):
        q = _query_vec(emb, qid)
        exact = set(_ids(cosine_topk(emb, q, k=K)))
        approx = set(_ids(ivf_search(emb, q, k=K, nprobe=6)))
        recalls.append(len(exact & approx) / K)
    assert sum(recalls) / len(recalls) >= 0.5, recalls


def test_recall_monotone_in_nprobe(emb):
    """More probed cells can only add candidates, so recall of the exact
    top-k must be non-decreasing in nprobe for any single query."""
    q = _query_vec(emb, 3)
    exact = set(_ids(cosine_topk(emb, q, k=K)))
    prev = -1.0
    for nprobe in (2, 6, 10):
        got = set(_ids(ivf_search(emb, q, k=K, nprobe=nprobe)))
        rec = len(exact & got) / K
        assert rec >= prev, (nprobe, rec, prev)
        prev = rec
    assert prev == 1.0  # nprobe=ncells is exact


def test_knn_join_exact_matches_per_query_topk(emb, spark):
    """Brute-force knn_join (nprobe=None) must equal running cosine_topk
    once per query — the batched plan changes cost, not results."""
    from etl_process_spark.operators.similarity import knn_join

    qids = [0, 3, 7]
    queries = emb.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    got = {
        (r["qid"], r["rn"]): (r["vec_id"], r["cos_sim_e6"])
        for r in knn_join(emb, queries, k=K, nprobe=None).collect()
    }
    for qid in qids:
        q = _query_vec(emb, qid)
        for rn, row in enumerate(cosine_topk(emb, q, k=K).collect(), start=1):
            assert got[(qid, rn)] == (row["vec_id"], row["cos_sim_e6"]), (qid, rn)


def test_int8_quantization_roundtrip_and_cosine_fidelity(emb, spark):
    """Quantized cosine must track exact cosine within the int8 grid's
    error budget, and top-10 by quantized score must keep most of the
    exact top-10 (coarse-rank fidelity)."""
    from etl_process_spark.operators.similarity import (
        cosine,
        cosine_quantized,
        quantize_int8,
    )

    qdf = quantize_int8(emb).cache()
    # grid error: |x - q*scale/127| <= scale/254 per component
    err = qdf.select(
        F.max(
            F.aggregate(
                F.zip_with(
                    F.col("embedding"),
                    F.col("qvec"),
                    lambda x, q: F.abs(
                        x.cast("double") - q * F.col("qvec_scale") / 127.0
                    ),
                ),
                F.lit(0.0),
                lambda acc, x: F.greatest(acc, x),
            )
            / (F.col("qvec_scale") / 127.0)
        ).alias("worst_units")
    ).first()["worst_units"]
    assert err <= 0.5 + 1e-9, err

    # score all vectors both ways against vec 0
    q_exact = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe")
    )
    q_quant = quantize_int8(
        emb.filter(F.col("vec_id") == 0)
    ).select(F.col("qvec").alias("qq"))
    scored = (
        qdf.crossJoin(F.broadcast(q_exact))
        .crossJoin(F.broadcast(q_quant))
        .select(
            "vec_id",
            cosine(F.col("embedding"), F.col("qe")).alias("exact"),
            cosine_quantized(F.col("qvec"), F.col("qq")).alias("approx"),
        )
        .cache()
    )
    worst = scored.select(
        F.max(F.abs(F.col("exact") - F.col("approx"))).alias("d")
    ).first()["d"]
    assert worst < 0.05, worst

    top_exact = {
        r["vec_id"]
        for r in scored.orderBy(F.col("exact").desc(), "vec_id").limit(10).collect()
    }
    top_approx = {
        r["vec_id"]
        for r in scored.orderBy(F.col("approx").desc(), "vec_id").limit(10).collect()
    }
    assert len(top_exact & top_approx) >= 7, (top_exact, top_approx)


def test_kmeans_lloyd_recovers_separated_clusters(spark):
    """Three well-separated blobs: two Lloyd passes from lowest-id init
    must group each blob into one cluster (whatever the label), and the
    refined centroids must sit near the blob centers."""
    import random

    from etl_process_spark.operators.similarity import kmeans_lloyd

    rng = random.Random(11)
    centers = [(0.0, 0.0), (10.0, 0.0), (0.0, 10.0)]
    rows = []
    for i in range(90):
        cx, cy = centers[i % 3]
        rows.append(
            (i, [cx + rng.uniform(-0.5, 0.5), cy + rng.uniform(-0.5, 0.5)])
        )
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    assigned, cents = kmeans_lloyd(df, "embedding", "vec_id", k=3, rounds=3)
    got = {r["vid"]: r["cluster"] for r in assigned.collect()}
    # every blob maps to exactly one cluster label and labels are distinct
    blob_labels = [{got[i] for i in range(90) if i % 3 == b} for b in range(3)]
    assert all(len(s) == 1 for s in blob_labels), blob_labels
    assert len(set().union(*blob_labels)) == 3
    # refined centroids land within the blobs' jitter radius
    cent_rows = {r["cluster"]: r["c"] for r in cents.collect()}
    for b, label_set in enumerate(blob_labels):
        cx, cy = centers[b]
        gx, gy = cent_rows[next(iter(label_set))]
        assert abs(gx - cx) < 0.5 and abs(gy - cy) < 0.5


def test_hyperplane_code_matches_banded_first_band(spark):
    """The single-band convenience must produce exactly the banded
    pipeline's band-0 code (same signs, same MSB-first fold)."""
    from pyspark.sql import functions as F

    from etl_process_spark.operators.dedup import (
        hyperplane_code,
        hyperplane_projections,
        hyperplane_signs,
        _code_from_flags,
    )

    dim, nbits = 8, 4
    vec = F.array(*[F.lit(float(x)) for x in [0.3, -1.2, 0.05, 2.0, -0.7, 0.0, 1.1, -0.01]])
    signs = hyperplane_signs(0, nbits, dim)
    single = hyperplane_code(vec, signs)
    projs = hyperplane_projections(vec, signs)
    flags = F.transform(projs, lambda p: F.when(p >= 0, F.lit(1)).otherwise(F.lit(0)))
    banded = _code_from_flags(flags, 0, nbits)
    row = spark.range(1).select(single.alias("a"), banded.alias("b")).first()
    assert row["a"] == row["b"]
    assert 0 <= row["a"] < 2 ** nbits


def test_arrow_knn_equals_sql_at_many_cells_multi_partition(spark):
    """Regression: the cell-cogrouped Arrow kNN must equal the SQL path
    when the cogroup shuffles stay MULTI-partition. The two cogroup
    sides are shuffled by their own grouping expressions without join-
    style type reconciliation, so a key-type mismatch (the corpus chunk
    was bigint, the probe chunk int) hashes equal key values into
    different partitions — every block arrives one-sided and the result
    silently shrinks. AQE coalesces tiny shuffles to one partition,
    which masked exactly that at sf0.1 (5 cells) while the 10x replica
    (50 cells) lost 97% of its mutual bitext pairs. This test pins the
    fix where AQE can't hide it: 64 cells, partition coalescing off,
    arrow == sql row-for-row.
    """
    from etl_process_spark.operators.similarity import knn_join

    dim, n_cells, per_cell = 8, 64, 6
    rows = []
    for c in range(n_cells):
        for j in range(per_cell):
            # deterministic, non-degenerate vectors: cell-centered with
            # a per-row perturbation; integer-derived doubles
            vec = [
                float((c * 7 + j * 3 + i * 5) % 17 - 8) + 0.25 * ((j + i) % 4)
                for i in range(dim)
            ]
            rows.append((c * 1000 + j, c, vec))
    emb = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")
    queries = emb.limit(40).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )

    key = "spark.sql.adaptive.coalescePartitions.enabled"
    saved = spark.conf.get(key, None)
    spark.conf.set(key, "false")
    try:
        out = {}
        for impl in ("arrow", "sql"):
            df = knn_join(emb, queries, k=3, nprobe=4, dim=dim, impl=impl)
            out[impl] = sorted(
                (r["qid"], r["vec_id"], r["cos_sim_e6"]) for r in df.collect()
            )
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)
    assert len(out["sql"]) == 40 * 3
    assert out["arrow"] == out["sql"]


def test_ivf_centroids_dim_path_skips_null_vectors(spark):
    """A NULL vector contributes nothing to its cell's centroid on either
    path: the posexplode path emits no rows for it, and the ``dim`` fast
    path divides by the count of non-null vectors, not of cell rows."""
    from etl_process_spark.operators.similarity import ivf_centroids

    df = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0]), (0, [3.0, 4.0, 5.0]), (0, None),
         (1, [0.5, -0.5, 0.25])],
        "label int, embedding array<double>",
    )

    def cents(**kw):
        return {r["cell"]: list(r["centroid"])
                for r in ivf_centroids(df, **kw).collect()}

    exploded = cents()
    assert exploded == {0: [2.0, 3.0, 4.0], 1: [0.5, -0.5, 0.25]}
    assert cents(dim=3) == exploded
