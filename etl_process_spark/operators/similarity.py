"""Embedding similarity search: brute-force cosine top-k and IVF probe.

Scale design:

* Dot products / norms are per-row `aggregate`/`zip_with` expressions over
  the embedding array — JVM-side, no Python, no shuffle.
* Brute-force top-k against ONE query vector is a map + global top-k
  (`orderBy.limit` -> TakeOrderedAndProject: per-partition heaps, driver
  merges k rows, never a full sort). Right answer at any corpus size when
  the query set is small.
* The IVF path is the scale answer for many queries: partition the corpus
  into cells (here: the `label` column as the cell assignment; in
  production, k-means centroids), compute cell centroids, and search only
  the best cell(s) per query — candidate count drops by the cell factor.
* Scores cross the output boundary as exact fixed-point BIGINTs
  (``floor(x * 1e6)``) ranked with a deterministic (score, id) tie-break,
  so results are reproducible across engines and partitionings. floor of
  one IEEE multiply is engine-exact given identical inputs, unlike
  ``round(DOUBLE, 6)`` whose internal scaling differs per engine build
  (the round-2 driver hash failures).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_process_spark.session import checkpoint

# The test corpus's embedding dimensionality (embeddings.parquet).
# Shared by every static-dim unrolled dot/norm call site: with ANSI off,
# element_at past the array end returns NULL, so a silently-wrong dim
# would NULL the dot/norm instead of erroring — one constant keeps every
# site in sync with the data.
EMBED_DIM = 64


def _dbl(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


_IDENT = __import__("re").compile(
    r"^[A-Za-z_][A-Za-z0-9_]*(\.[A-Za-z_][A-Za-z0-9_]*)*$"
)


def _expr_sql(c: Column) -> str | None:
    """SQL text for a Column that is a PLAIN (possibly dotted) column
    reference, else None — callers fall back to building the tree with
    Column operators. Derived from ``str(c)`` ("Column<'va'>"), zero
    py4j calls; Spark 4's Java Column no longer exposes ``expr()``, and
    simple references are the only call-site shape anyway."""
    s = str(c)
    if s.startswith("Column<'") and s.endswith("'>"):
        name = s[8:-2]
        if _IDENT.match(name):
            return ".".join(f"`{p}`" for p in name.split("."))
    return None


def fixed_e6(x: Column) -> Column:
    """Exact fixed-point boundary: floor(x·10⁶) as BIGINT — one IEEE
    multiply (by an exactly-representable constant) and one floor, both
    bit-identical across engines given identical ``x``. DuckDB mirror:
    ``CAST(floor(x * 1000000) AS BIGINT)``."""
    return F.floor(x * F.lit(1000000.0)).cast("long")


def dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Σ a_i·b_i, index order.

    With ``dim`` known statically the sum unrolls to a flat expression —
    element_at/cast/multiply/add all stay inside whole-stage codegen,
    ~20× faster per row than the interpreted higher-order fallback the
    ``dim=None`` path uses. The unrolled chain is left-associated
    starting from 0.0, the IDENTICAL IEEE addition order as the
    aggregate fold, so the two forms are bit-identical and can be mixed
    freely (the oracle replays either).

    The unrolled tree is BUILT as one SQL string parsed JVM-side in a
    single ``F.expr`` call, not a Python loop of Column operators: dim
    64 means ~384 Column ops, i.e. ~384 py4j round-trips, ~0.4 s of
    driver time PER CONSTRUCTED EXPRESSION (measured — it made the
    LSH verify stage's query build cost exceed its execution at sf0.1).
    SQL ``+`` / ``*`` are left-associative, so the parsed tree is
    node-for-node the tree the loop built."""
    if dim is None:
        return F.aggregate(
            F.zip_with(_dbl(a), _dbl(b), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    asql, bsql = _expr_sql(a), _expr_sql(b)
    if asql is not None and bsql is not None:
        terms = " + ".join(
            f"(CAST(element_at({asql}, {i}) AS DOUBLE) * "
            f"CAST(element_at({bsql}, {i}) AS DOUBLE))"
            for i in range(1, dim + 1)
        )
        return F.expr(f"CAST(0.0 AS DOUBLE) + {terms}")
    acc: Column = F.lit(0.0)
    for i in range(1, dim + 1):
        acc = acc + F.element_at(a, i).cast("double") * F.element_at(b, i).cast(
            "double"
        )
    return acc


def norm(a: Column, dim: int | None = None) -> Column:
    return F.sqrt(dot(a, a, dim))


def cosine(a: Column, b: Column, dim: int | None = None) -> Column:
    return dot(a, b, dim) / (norm(a, dim) * norm(b, dim))


def cosine_topk(
    df: DataFrame, query_vec: DataFrame, k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k of `df` against a single query vector.

    `query_vec` is a 1-row DataFrame with the query embedding (column
    `q`) — broadcast, so the scan is map-only; the only data movement is
    the k-row top-k merge.
    """
    j = df.crossJoin(F.broadcast(query_vec))
    scored = j.select(
        F.col(id_col),
        fixed_e6(cosine(F.col(vec_col), F.col("q"))).alias("cos_sim_e6"),
    )
    return scored.orderBy(F.col("cos_sim_e6").desc(), F.col(id_col)).limit(k)


def ivf_centroids(
    df: DataFrame, cell_col: str = "label", vec_col: str = "embedding", dim: int | None = None,
) -> DataFrame:
    """Per-cell centroid vectors (the IVF coarse quantizer).

    posexplode -> groupBy(cell, position) -> avg -> re-assemble. The
    shuffle carries (cell × dim) rows — centroid-sized, independent of
    corpus size. Centroid components are exact-e6-quantized means
    (floor(v·10⁶) BIGINT partial sums, one final division of
    integer-valued doubles) — a raw double avg is partition-order-
    dependent and engine-order-dependent; the quantized sum is not.

    With ``dim`` set the same quantized means come from ONE
    groupBy(cell) carrying dim integer partial sums — no corpus-row
    posexplode (a ×dim map-side row multiplication at any scale) and
    one exchange instead of two. Component values are bit-identical:
    identical per-element floor(v·10⁶) BIGINT terms, summed per cell
    either way, one final division each — under the fast path's contract
    that every non-null vector has exactly ``dim`` non-null elements. NULL
    vectors are skipped on both paths (``count(vec_col)`` is the divisor).
    """
    if dim is not None:
        # whole-expression SQL strings: one parser round-trip per
        # aggregate and ONE for the reassembly, not 5+ py4j calls per
        # dimension (the round-9 dot lesson)
        sums = [
            F.expr(
                f"sum(CAST(FLOOR(CAST(element_at(`{vec_col}`, {i}) AS DOUBLE)"
                f" * 1000000.0) AS BIGINT)) AS _s{i}"
            )
            for i in range(1, dim + 1)
        ]
        agg = df.groupBy(F.col(cell_col).alias("cell")).agg(
            sums[0], *sums[1:], F.expr(f"count(`{vec_col}`) AS _n")
        )
        arr = ", ".join(
            f"CAST(_s{i} AS DOUBLE) / (_n * 1000000.0)"
            for i in range(1, dim + 1)
        )
        return agg.selectExpr("cell", f"array({arr}) AS centroid")
    pe = df.select(F.col(cell_col).alias("cell"), F.posexplode(_dbl(F.col(vec_col))).alias("pos", "val"))
    comp = pe.groupBy("cell", "pos").agg(
        (
            F.sum(F.floor(F.col("val") * 1000000.0).cast("long"))
            .cast("double")
            / (F.count(F.lit(1)) * 1000000.0)
        ).alias("c")
    )
    return (
        comp.groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select("cell", F.transform("pc", lambda s: s["c"]).alias("centroid"))
    )


def ivf_topk_per_cell(
    df: DataFrame, k: int = 3,
    cell_col: str = "label", vec_col: str = "embedding", id_col: str = "vec_id",
) -> DataFrame:
    """For each IVF cell, the k vectors closest (L2) to the cell centroid.

    The 'probe' half of IVF search: ranking within a cell against its
    centroid. Join on the cell key broadcasts the centroids; the per-cell
    top-k is a windowed rank over cell partitions. Distances round to 6
    decimals with (dist, id) tie-break for cross-engine determinism.
    """
    from pyspark.sql import Window

    cents = F.broadcast(ivf_centroids(df, cell_col, vec_col))
    j = df.join(cents, df[cell_col] == cents["cell"])
    d2 = F.aggregate(
        F.zip_with(_dbl(F.col(vec_col)), F.col("centroid"), lambda x, c: (x - c) * (x - c)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = j.select(
        F.col("cell"),
        F.col(id_col),
        fixed_e6(d2).alias("dist2_e6"),
    )
    w = Window.partitionBy("cell").orderBy(
        F.col("dist2_e6").asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("cell", F.col(id_col), "dist2_e6", "rn")
    )


def ivf_search(
    df: DataFrame, query_vec: DataFrame, k: int = 10, nprobe: int = 3,
    cell_col: str = "label", vec_col: str = "embedding", id_col: str = "vec_id",
) -> DataFrame:
    """Full IVF search: probe the ``nprobe`` cells whose centroids are
    most cosine-similar to the query, then brute-force rank only those
    cells' members — the standard recall/cost dial of inverted-file ANN.

    Plan at scale: the centroid table is (cells × dim) — computed with
    one centroid-sized shuffle and broadcast for ranking; cell selection
    is a tiny top-nprobe; the candidate restriction is a broadcast
    left-semi join, so the corpus scan reads ~nprobe/ncells of the data
    and nothing else moves. With the table Hive-partitioned by the cell
    column (``TableCatalog.write_partitioned``) the semi join prunes to
    the probed cells' directories — at 100 TB the scan cost IS the
    recall dial. ``nprobe = ncells`` degenerates to exact brute force
    (asserted in tests), so recall can be traded monotonically against
    scan fraction.
    """
    cents = ivf_centroids(df, cell_col, vec_col)
    ranked = (
        cents.crossJoin(F.broadcast(query_vec))
        .select(
            "cell", fixed_e6(cosine(F.col("centroid"), F.col("q"))).alias("csim")
        )
        .orderBy(F.col("csim").desc(), F.col("cell"))
        .limit(nprobe)
        .select("cell")
    )
    candidates = df.join(
        F.broadcast(ranked), df[cell_col] == ranked["cell"], "left_semi"
    )
    return cosine_topk(candidates, query_vec, k, id_col, vec_col)


def _knn_cells_arrow(
    corpus: DataFrame, probes: DataFrame, k: int, dim: int,
    cell_col: str, vec_col: str, id_col: str, cell_chunks: int = 1,
) -> DataFrame:
    """Cell-cogrouped Arrow kNN scoring (see knn_join impl='arrow').

    Exactness contract: numpy accumulates S[q,a], ‖a‖² and ‖q‖² with ONE
    explicit python loop over the dim axis (vectorized across pairs), so
    every sum is left-associated from 0.0 in float64 — bit-identical to
    the JVM aggregate/unrolled forms; cosine division, ×10⁶ and floor are
    single IEEE ops on identical inputs. Per-(query, cell) top-k with
    (e6 desc, id asc) lexsort matches the SQL rank tie-break, and the
    global top-k equals the top-k of the union of per-cell top-k lists.

    ``cell_chunks`` bounds executor memory at scale: every cell's corpus
    rows hash-split into that many chunks, each cogroup block scores one
    (cell, chunk) against the cell's queries, and the same union-of-
    chunk-top-k identity keeps the result EXACTLY invariant for any
    chunk count (each per-pair score is computed identically; only which
    block computes it moves). A hot IVF cell therefore costs
    O(|cell|/chunks · |queries|) per task instead of one giant block —
    the skew story for a 100 TB corpus side.
    """
    import pandas as pd  # noqa: F401  (applyInPandas contract)

    from pyspark.sql import Window
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    id_type = corpus.schema[id_col].dataType
    if not isinstance(id_type, (ByteType, ShortType, IntegerType, LongType)):
        # the block scorer carries ids as int64; a silent cast of e.g.
        # string ids would NULL them all out (non-ANSI) — refuse instead
        raise ValueError(
            f"knn_join impl='arrow' requires an integral {id_col!r} "
            f"(got {id_type.simpleString()}); use impl='sql' for "
            "non-numeric ids"
        )
    qid_type = probes.schema["qid"].dataType
    if not isinstance(qid_type, (ByteType, ShortType, IntegerType, LongType)):
        # same contract on the probe side: the 'qid long' applyInPandas
        # schema would otherwise fail with an opaque Arrow error (or
        # silently NULL the ids) for string/decimal query ids
        raise ValueError(
            "knn_join impl='arrow' requires an integral query id "
            f"(got {qid_type.simpleString()}); use impl='sql' for "
            "non-numeric ids"
        )

    def score_cell(_key, corpus_pdf, query_pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {"qid": pd.Series(dtype="int64"),
             "nid": pd.Series(dtype="int64"),
             "cos_sim_e6": pd.Series(dtype="int64")}
        )
        if len(corpus_pdf) == 0 or len(query_pdf) == 0:
            return empty
        A = np.stack(corpus_pdf["vec"].to_numpy())
        ids = corpus_pdf["nid"].to_numpy()
        Q = np.stack(query_pdf["qvec"].to_numpy())
        qids = query_pdf["qid"].to_numpy()
        S = np.zeros((len(Q), len(A)))
        va = np.zeros(len(A))
        vq = np.zeros(len(Q))
        for i in range(dim):
            ai = A[:, i]
            qi = Q[:, i]
            S += qi[:, None] * ai[None, :]
            va += ai * ai
            vq += qi * qi
        cos = S / (np.sqrt(va)[None, :] * np.sqrt(vq)[:, None])
        if not np.isfinite(cos).all():
            # 0/0 from a zero-norm vector: the SQL path renders that
            # cosine as NULL (non-ANSI cast) while int64 would wrap to
            # INT64_MIN garbage — refuse loudly instead of diverging.
            raise ValueError(
                "knn_join impl='arrow': non-finite cosine (zero-norm "
                "embedding in the block); clean zero vectors upstream "
                "or use impl='sql'"
            )
        e6 = np.floor(cos * 1000000.0).astype(np.int64)
        take = min(k, len(A))
        out_q, out_id, out_s = [], [], []
        for r in range(len(Q)):
            row = e6[r]
            order = np.lexsort((ids, -row))[:take]
            out_q.extend([qids[r]] * len(order))
            out_id.extend(ids[order])
            out_s.extend(row[order])
        return pd.DataFrame(
            {"qid": np.asarray(out_q, dtype=np.int64),
             "nid": np.asarray(out_id, dtype=np.int64),
             "cos_sim_e6": np.asarray(out_s, dtype=np.int64)}
        )

    # The two cogroup sides MUST carry bit-identical key types: cogroup
    # shuffles each side by its own grouping expressions WITHOUT the type
    # reconciliation a join would insert, and Murmur3 hashes int 0 and
    # bigint 0 differently — equal key VALUES then land in different
    # partitions and every block arrives one-sided (corpus rows with no
    # queries, queries with no corpus), silently emptying the result.
    # The mismatch is invisible at small scale because AQE coalesces the
    # tiny shuffles to one partition, where the merge compares values.
    # Hence both cells cast long and both chunks cast int, uncondition-
    # ally (crc32 % n is bigint; sequence() elements are int).
    corp = corpus.select(
        F.col(cell_col).cast("long").alias("ccell"),
        (F.crc32(F.col(id_col).cast("string")) % cell_chunks)
        .cast("int").alias("chunk"),
        F.col(id_col).cast("long").alias("nid"),
        _dbl(F.col(vec_col)).alias("vec"),
    )
    qp = probes.select(
        F.col("cell").cast("long").alias("cell"), "qid", "qvec",
        F.explode(F.sequence(F.lit(0), F.lit(cell_chunks - 1))).alias("chunk"),
    )
    shortlist = (
        corp.groupBy("ccell", "chunk")
        .cogroup(qp.groupBy("cell", "chunk"))
        .applyInPandas(score_cell, "qid long, nid long, cos_sim_e6 long")
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cos_sim_e6").desc(), F.col("nid").asc()
    )
    return (
        shortlist.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            "qid", F.col("nid").alias(id_col), "cos_sim_e6",
            F.col("rn").cast("int").alias("rn"),
        )
    )


def knn_join(
    corpus: DataFrame, queries: DataFrame, k: int = 5, nprobe: int | None = None,
    cell_col: str = "label", vec_col: str = "embedding",
    id_col: str = "vec_id", qid_col: str = "qid", qvec_col: str = "qvec",
    dim: int | None = None, impl: str = "sql", cell_chunks: int = 1,
) -> DataFrame:
    """Batched ANN: top-k corpus neighbors for EVERY query vector in one
    plan — the production shape of similarity search (a retrieval batch,
    not one lookup).

    With ``nprobe`` set, each query explodes to its nprobe
    nearest-centroid cells and candidates come from an EQUI join on the
    cell id — so the corpus is probed hash-style, never cross-joined,
    and compute + shuffle shrink by ~nprobe/ncells. ``nprobe=None`` is
    the exact brute-force variant (corpus × queries via broadcast).
    The per-query top-k is a rank over qid partitions; the shuffle
    carries only scored candidates, keyed by qid — balanced as long as
    queries are (each query contributes the same candidate count).
    Scores round to 6 decimals with (score, id) tie-break for
    cross-engine determinism.

    With ``dim`` set, both sides' vectors are FLATTENED to dim scalar
    double columns once per corpus/query row before the candidate join,
    so the per-candidate cosine is pure field arithmetic in whole-stage
    codegen — no per-pair array walks (ElementAt + bounds/null checks
    per element cost ~20× the multiply they feed; measured ~3× faster
    end-to-end than unrolled-over-arrays, ~5× than the interpreted
    higher-order fallback). Scores are bit-identical to the dim=None
    path: same element extraction, same left-associated IEEE addition
    from 0.0, commutative multiplies.

    ``impl="arrow"`` (requires nprobe and dim) replaces the candidate
    join + per-pair scalar scoring with a cell-cogrouped Arrow stage:
    corpus cells and their probing queries meet in applyInPandas, where
    numpy scores the block with the SAME accumulation order (one
    explicit loop over dimensions, vectorized across pairs — each
    S[q,a] accumulates q_i·a_i left-associated from 0.0, float64
    throughout, so every cosine is bit-identical to the JVM paths) and
    emits only the per-(query, cell) top-k; the global per-query top-k
    over the ≤ nprobe·k survivors is the union-of-cell-top-k identity.
    This is the declared vectorized-UDF fast path for embedding math:
    nothing row-at-a-time crosses the Python boundary, and the Arrow
    transfer carries each corpus/query vector once per probed cell,
    never per pair.
    """
    from pyspark.sql import Window

    if impl == "arrow" and (nprobe is None or dim is None):
        raise ValueError(
            "impl='arrow' requires both nprobe and a static dim — the "
            "cell-cogrouped fast path only exists for probed search"
        )
    q = queries.select(F.col(qid_col).alias("qid"), _dbl(F.col(qvec_col)).alias("qvec"))

    def _flat(prefix: str, arr: str) -> list[Column]:
        return [
            F.element_at(F.col(arr), i).cast("double").alias(f"{prefix}{i}")
            for i in range(1, (dim or 0) + 1)
        ]

    def _flatdot(pa: str, pb: str) -> Column:
        acc: Column = F.lit(0.0)
        for i in range(1, (dim or 0) + 1):
            acc = acc + F.col(f"{pa}{i}") * F.col(f"{pb}{i}")
        return acc

    if dim is not None and impl != "arrow":
        # flattened _kq columns feed the scalar-dot scoring of the SQL
        # paths only; the Arrow path ships the array itself, and carrying
        # 64 dead doubles through the probe window's exchange (and ~400
        # py4j calls of plan assembly) measured ~0.6 s per direction on
        # margin_bitext_pairs
        q = q.select("qid", "qvec", *_flat("_kq", "qvec"))
    if nprobe is not None:
        cents = ivf_centroids(corpus, cell_col, vec_col, dim=dim)
        cell_w = Window.partitionBy("qid").orderBy(
            F.col("csim").desc(), F.col("cell").asc()
        )
        probes = (
            q.crossJoin(F.broadcast(cents))
            .withColumn(
                "csim", fixed_e6(cosine(F.col("centroid"), F.col("qvec"), dim))
            )
            .withColumn("crn", F.row_number().over(cell_w))
            .filter(F.col("crn") <= nprobe)
            .drop("csim", "crn", "centroid")
        )
        if impl == "arrow":
            if dim is None:
                raise ValueError("impl='arrow' requires a static dim")
            return _knn_cells_arrow(
                corpus, probes, k, dim, cell_col, vec_col, id_col,
                cell_chunks=cell_chunks,
            )
        if dim is not None:
            probes = probes.drop("qvec")
        if dim is not None:
            corpus_s = corpus.select(
                F.col(id_col), F.col(cell_col), *_flat("_kv", vec_col)
            )
        else:
            corpus_s = corpus
        cand = corpus_s.join(
            F.broadcast(probes), corpus_s[cell_col] == probes["cell"]
        )
    else:
        if dim is not None:
            corpus_s = corpus.select(
                F.col(id_col), *_flat("_kv", vec_col)
            )
            q = q.drop("qvec")
        else:
            corpus_s = corpus
        cand = corpus_s.crossJoin(F.broadcast(q))
    score = (
        _flatdot("_kv", "_kq")
        / (F.sqrt(_flatdot("_kv", "_kv")) * F.sqrt(_flatdot("_kq", "_kq")))
        if dim is not None
        else cosine(F.col(vec_col), F.col("qvec"))
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cos_sim_e6").desc(), F.col(id_col).asc()
    )
    return (
        cand.select("qid", F.col(id_col), fixed_e6(score).alias("cos_sim_e6"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            "qid", F.col(id_col), "cos_sim_e6",
            F.col("rn").cast("int").alias("rn"),
        )
    )


def quantize_int8(
    df: DataFrame, vec_col: str = "embedding", out_col: str = "qvec",
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization: each component maps
    to round(x * 127 / max|x|), stored with its scale for exact
    dequantization of the grid — 4× smaller than float32, 8× smaller
    than the double arrays Spark exchanges.

    At 100 TB of embeddings the quantized table is what you scan for
    candidate generation (IVF probes, coarse ranking) with full-precision
    re-ranking only on the short list. Pure map-side expression — zero
    shuffle; the scale column rides along for dequantization
    (``x ≈ q * scale / 127``).
    """
    v = _dbl(F.col(vec_col))
    amax = F.aggregate(v, F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x)))
    scale = F.when(amax > 0, amax).otherwise(F.lit(1.0))
    q = F.transform(v, lambda x: F.round(x * 127.0 / scale).cast("int"))
    return df.withColumn(out_col, q).withColumn(f"{out_col}_scale", scale)


def quantized_norm(q: Column) -> Column:
    """sqrt(Σ q_i²) of an int8-quantized vector (exact integer sum in
    doubles). Precompute this on the QUERY side of a broadcast scoring
    join — recomputing a constant query norm per corpus row both wastes
    the scan and doubles the scoring expression tree."""
    return F.sqrt(F.aggregate(
        F.transform(q, lambda x: (x * x).cast("double")),
        F.lit(0.0), lambda acc, x: acc + x))


def cosine_quantized(a_q: Column, b_q: Column, b_norm: Column | None = None) -> Column:
    """Cosine over int8-quantized vectors. Per-vector symmetric scaling
    cancels in the cosine ratio, so no dequantization multiply is needed
    — integer dot and norms only. Pass ``b_norm`` (``quantized_norm`` of
    ``b_q``) when b is a broadcast query vector whose norm is constant
    across rows; identical value, one aggregate less per row."""
    num = F.aggregate(
        F.zip_with(a_q, b_q, lambda x, y: (x * y).cast("double")),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    na = quantized_norm(a_q)
    nb = b_norm if b_norm is not None else quantized_norm(b_q)
    return num / (na * nb)


def _sq_dist(v: Column, c: Column) -> Column:
    return F.aggregate(
        F.zip_with(v, c, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _assign(v: DataFrame, cents: DataFrame) -> DataFrame:
    """Map-side argmin assignment of (vid, v) rows to packed broadcast
    centroids — zero corpus shuffle (see kmeans_lloyd docstring)."""
    packed = cents.agg(
        F.array_sort(F.collect_list(F.struct("cluster", "c"))).alias("cs")
    )
    best = F.element_at(
        F.array_sort(
            F.transform(
                F.col("cs"),
                lambda s: F.struct(
                    _sq_dist(F.col("v"), s["c"]).alias("d2"),
                    s["cluster"].alias("cluster"),
                ),
            )
        ),
        1,
    )
    return v.crossJoin(F.broadcast(packed)).select(
        "vid", "v",
        best["cluster"].alias("cluster"),
        best["d2"].alias("d2"),
    )


def kmeans_assign(
    df: DataFrame,
    cents: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Assign NEW vectors to existing centroids (the incremental half of
    production clustering: train once on a corpus snapshot, assign every
    later batch with a pure map stage — no retraining, no shuffle).
    Returns (vid, v, cluster, d2)."""
    v = df.select(F.col(id_col).alias("vid"), _dbl(F.col(vec_col)).alias("v"))
    return _assign(v, cents)


def kmeans_lloyd(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 4,
    rounds: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """Lloyd k-means refinement: ``rounds`` assignment passes with a
    centroid update between each (the clustering step of SemDeDup-style
    semantic pruning, and the trained coarse quantizer IVF cells want in
    production). Deterministic init: the ``k`` lowest-id vectors.

    Returns ``(assignments, centroids)`` — the final assignment and the
    centroids it was scored against.

    100 TB shape: the k centroids are packed into ONE row
    (``collect_list``) and broadcast, so assignment is a pure map stage
    — per-vector argmin via ``array_sort`` over (distance², cluster)
    structs, the corpus never shuffled to rank candidates (a naive
    crossJoin × row_number ranks k copies of the corpus through a
    full id-keyed exchange per round). The centroid update shuffles
    only (cluster, dim) partial sums thanks to map-side combine —
    centroid-sized, independent of corpus size, the same contract as
    ``ivf_centroids``. Lineage per round is cut with a lazy
    checkpoint. Ties (equidistant centroids) break to the lower
    cluster id in every engine.
    """
    from pyspark.sql import Window

    v = df.select(F.col(id_col).alias("vid"), _dbl(F.col(vec_col)).alias("v"))
    cents = (
        v.orderBy("vid")
        .limit(k)
        .select(
            (F.row_number().over(Window.orderBy("vid")) - 1).alias("cluster"),
            F.col("v").alias("c"),
        )
    )
    scored = None
    for r in range(rounds):
        scored = _assign(v, cents)
        if r < rounds - 1:
            cents = checkpoint(
                scored.select("cluster", F.posexplode("v").alias("dim", "val"))
                .groupBy("cluster", "dim")
                # exact-e6 quantized mean — same contract as ivf_centroids
                .agg(
                    (
                        F.sum(
                            F.floor(F.col("val") * 1000000.0).cast("long")
                        ).cast("double")
                        / (F.count(F.lit(1)) * 1000000.0)
                    ).alias("m")
                )
                .groupBy("cluster")
                .agg(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("dim", "m"))),
                        lambda s: s["m"],
                    ).alias("c")
                ),
                eager=False,
            )
    return scored.select("vid", "cluster"), cents


def margin_mutual_pairs(
    side_a: DataFrame, side_b: DataFrame, k: int = 4, nprobe: int = 3,
    cell_col: str = "label", vec_col: str = "embedding", id_col: str = "vec_id",
    dim: int | None = None, impl: str = "sql",
) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019): mutual-kNN
    pairs across two corpora, scored by the ratio margin
    cos(x,y) / mean of the two k-NN neighborhoods' similarities.

    Both directions run the probed knn_join (each side's corpus is
    bucketed by its IVF cells; queries explode to nprobe cells), so
    neither corpus is ever cross-joined — the production shape for
    mining parallel text across two 100 TB-scale embedding sets. The
    mutual constraint is one equi join of the two top-k frames on the
    (a, b) pair key.

    Exactness contract: cosine is symmetric term-for-term (same dot
    order, commutative norm product), so cos_e6 from either direction
    is bit-identical; the margin is kept as one integer division
    margin_ppm = 10⁶·2k·cos(x,y) DIV (Σtop-k cos(x,·) + Σtop-k cos(y,·))
    — no intermediate per-neighborhood average, no double at the
    boundary. Pairs with non-positive cosine or neighborhood mass are
    dropped (keeps DIV truncation == floor division across engines).
    """
    qa = side_a.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec"))
    qb = side_b.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec"))
    ab = knn_join(side_b, qa, k=k, nprobe=nprobe, cell_col=cell_col,
                  vec_col=vec_col, id_col=id_col, dim=dim, impl=impl)
    ba = knn_join(side_a, qb, k=k, nprobe=nprobe, cell_col=cell_col,
                  vec_col=vec_col, id_col=id_col, dim=dim, impl=impl)
    # Each direction is referenced ONCE: the neighborhood sum and the
    # neighbor list come out of a single groupBy(qid) pass (collect_list
    # is bounded at k rows per query), then the list explodes back to
    # pair rows carrying the sum alongside. Referencing ab/ba twice
    # (sum agg + mutual join) would re-run the whole probed kNN per
    # reference — the branches prune different columns, so ReuseExchange
    # can't merge them. The window inside knn_join already partitions by
    # qid, so this groupBy adds no exchange.
    a_flat = (
        ab.groupBy("qid")
        .agg(
            F.sum("cos_sim_e6").alias("sum_a"),
            F.collect_list(F.struct(F.col(id_col), F.col("cos_sim_e6"))).alias("nb"),
        )
        .select(
            F.col("qid").alias("id_a"), "sum_a", F.explode("nb").alias("n"),
        )
        .select(
            "id_a", F.col(f"n.{id_col}").alias("id_b"),
            F.col("n.cos_sim_e6").alias("cos_sim_e6"), "sum_a",
        )
    )
    b_flat = (
        ba.groupBy("qid")
        .agg(
            F.sum("cos_sim_e6").alias("sum_b"),
            F.collect_list(F.col(id_col)).alias("nb"),
        )
        .select(
            F.col("qid").alias("id_b"), "sum_b", F.explode("nb").alias("id_a"),
        )
    )
    return (
        a_flat.join(b_flat, ["id_a", "id_b"])
        .filter((F.col("cos_sim_e6") > 0) & (F.col("sum_a") + F.col("sum_b") > 0))
        .select(
            "id_a", "id_b", "cos_sim_e6",
            F.expr(
                f"(CAST(2000000 AS BIGINT) * {k} * cos_sim_e6)"
                " DIV (sum_a + sum_b)"
            ).alias("margin_ppm"),
        )
    )
