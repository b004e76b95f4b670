"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the 100 TB contract):

* Signatures (minhash / simhash / fingerprints) are per-row expressions —
  higher-order SQL functions over token arrays, JVM codegen, no shuffle.
* Candidate generation never compares all pairs: MinHash-LSH buckets docs
  by banded signature and only docs sharing a bucket are joined — the
  shuffle is on band keys, and the join explodes only within buckets.
* Verification (exact Jaccard) runs only on LSH candidates, via a
  shingle-level equi join — O(candidate pairs × shingles), not O(n²).
* The md5 hash family keeps every stage reproducible across engines (the
  DuckDB oracle computes identical values); see operators/text.py.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_process_spark.operators.text import tokens
from etl_process_spark.session import checkpoint


def shingles(text: Column | str, k: int = 3) -> Column:
    """Word k-shingles of the canonical token stream.

    Built by zipping k shifted slices of the token array — NOT by indexing
    with element_at inside a transform lambda: expressions captured in a
    lambda body are re-evaluated per element, so the index formulation
    re-tokenizes the whole document at every shingle position (quadratic).
    Slices evaluate the token array a constant number of times. Empty
    array when the document has fewer than k tokens.
    """
    t = tokens(text)
    n = F.size(t)
    length = F.greatest(n - (k - 1), F.lit(0))
    parts = [F.slice(t, j + 1, length) for j in range(k)]
    zipped = parts[0]
    for p in parts[1:]:
        zipped = F.zip_with(zipped, p, lambda a, b: F.concat_ws(" ", a, b))
    return zipped


def shingle_rows(df: DataFrame, text_col: str, id_col: str, k: int = 3) -> DataFrame:
    """One (doc, shingle) row per shingle position (duplicates preserved).

    Tokenization happens once in a materialized projection (CollapseProject
    keeps non-cheap aliases used k times from being re-inlined), after
    spreading a narrow input across the cluster — the fan-out point every
    shingle-based operator builds on.
    """
    toks = ensure_parallelism(df).select(
        F.col(id_col).alias("doc"), tokens(F.col(text_col)).alias("t")
    )
    n = F.size("t")
    length = F.greatest(n - (k - 1), F.lit(0))
    parts = [F.slice(F.col("t"), j + 1, length) for j in range(k)]
    zipped = parts[0]
    for p in parts[1:]:
        zipped = F.zip_with(zipped, p, lambda a, b: F.concat_ws(" ", a, b))
    return toks.select("doc", F.explode(zipped).alias("sh"))


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Spread a narrow input across the cluster before CPU-heavy map work.

    A small parquet table arrives as one split → one task, serializing an
    embarrassingly parallel computation on a single core. The fix is one
    lazy round-robin ``repartition(defaultParallelism)`` of the raw input
    rows — cheap relative to the per-row compute it unlocks.

    The spread is WIDTH-AWARE: it fires only when the frame's input file
    count is below the session's default parallelism. A real corpus scan
    already yields thousands of splits, and a round-robin repartition of
    raw document text there is a pure extra full shuffle at any scale —
    so a wide input short-circuits to a no-op with no conf required.
    ``df.inputFiles()`` is driver-side metadata (the scan's file listing,
    already computed and cached at read time — no job), so the check
    costs one py4j round-trip, not a plan materialization. File count
    underestimates split count for multi-row-group files, which only
    makes the check conservative (a spread that fires on an
    already-parallel scan is coalesced back down by AQE). Inputs with no
    file lineage (in-memory frames, intermediate results) keep the
    spread — they are small or already shuffled.

    Session overrides: ``spark.graft.ensureParallelism=false`` disables
    the spread outright (kill switch, unchanged); ``...=force`` restores
    the unconditional pre-r12 behaviour.
    """
    spark = df.sparkSession
    mode = spark.conf.get("spark.graft.ensureParallelism", "true")
    if mode == "false":
        return df
    par = spark.sparkContext.defaultParallelism
    if mode != "force":
        try:
            n_files = len(df.inputFiles())
        except Exception:
            n_files = 0
        if n_files >= par:
            return df
    return df.repartition(par)


def _rot_hex(h: Column, chars: int) -> Column:
    """Left-rotate a 32-char hex digest by ``chars`` characters."""
    if chars == 0:
        return h
    return F.concat(F.substring(h, chars + 1, 32 - chars), F.substring(h, 1, chars))


def minhash_signatures_df(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int = 4, k: int = 3,
) -> DataFrame:
    """MinHash signatures: min over shingles of rotations of one md5.

    Data-flow shape (the 100 TB-honest one): explode distinct shingles →
    ONE md5 per shingle → groupBy(doc) with ``min`` aggregates over hex
    rotations of that digest. The min is a map-side partial aggregate, so
    the shuffle carries one 32-char row per (partition, doc); hashing cost
    is 1× md5 regardless of signature width (each rotation is a bijection
    of the hash space — uniform marginally, a standard one-base-hash
    family). Documents with < k tokens produce no shingles and are absent
    from the output, mirroring the oracle's length guard.
    """
    hashed = shingle_rows(df, text_col, id_col, k).select(
        F.col("doc").alias(id_col), F.md5("sh").alias("h")
    )
    step = 32 // num_hashes
    aggs = [
        F.min(_rot_hex(F.col("h"), s * step)).alias(f"minhash_{s}")
        for s in range(num_hashes)
    ]
    return hashed.groupBy(id_col).agg(*aggs)


# Hex chars whose nibble has bit k set, k = 0 the nibble's MSB (value 8)
# .. k = 3 its LSB (value 1). Membership is a plain char test, portable
# to the oracle as strpos(chars, c) > 0.
_NIBBLE_BIT_CHARS = ("89abcdef", "4567cdef", "2367abef", "13579bdf")


def _simhash_counts(text: Column | str, bits: list[tuple[int, int]]) -> Column:
    """Per-bit ±1 vote totals for a SimHash signature — ONE md5 per token.

    ``bits`` lists (hex_pos, nibble_bit) pairs: hex_pos is the 1-based
    position in the md5 hex digest, nibble_bit selects which of that
    nibble's four bits votes (0 = MSB). The token array is hashed once
    (transform → md5), then a single aggregate zip_with-adds each
    token's ±1 vote vector into the accumulator: len(bits) cheap char
    tests per token instead of len(bits) md5 recomputes (the round-3
    hotspot — simhash16 used to re-invoke F.md5 16× per token).
    Returns array<int> of len(bits) vote totals, in ``bits`` order.
    """

    def votes(h: Column) -> Column:
        return F.array(
            *[
                F.when(
                    F.contains(
                        F.lit(_NIBBLE_BIT_CHARS[k]), F.substring(h, pos, 1)
                    ),
                    F.lit(1),
                ).otherwise(F.lit(-1))
                for pos, k in bits
            ]
        )

    return F.aggregate(
        F.transform(tokens(text), F.md5),
        F.array_repeat(F.lit(0), len(bits)),
        lambda acc, h: F.zip_with(acc, votes(h), lambda a, v: a + v),
    )


def _fold_bits(counts: Column) -> Column:
    """MSB-first fold of a vote-count array into an integer signature:
    acc*2 + (count > 0) over the array, i.e. Σ bit_i << (n-1-i)."""
    return F.aggregate(
        counts,
        F.lit(0),
        lambda acc, cnt: acc * 2
        + F.when(cnt > 0, F.lit(1)).otherwise(F.lit(0)),
    )


def simhash16(text: Column | str) -> Column:
    """16-bit SimHash over unigram tokens, md5-derived bit planes.

    Bit b (1..16) of a token = high bit of hex nibble b of md5(token).
    Per-document bit = sign of the sum of ±1 contributions. Entirely
    per-row; one md5 per token (hoisted via _simhash_counts)."""
    return _fold_bits(_simhash_counts(text, [(b, 0) for b in range(1, 17)]))


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup via hash-groupBy: one keeper (min id) per distinct text.

    Grouping on the md5 fingerprint rather than the full text keeps shuffle
    rows small (16 bytes vs document bytes) — at 100 TB this is the
    difference between shuffling hashes and shuffling the corpus.
    """
    from etl_process_spark.operators.text import fingerprint

    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def bucket_pairs(banded: DataFrame, id_col: str = "doc") -> DataFrame:
    """All unordered id pairs sharing a (band, bucket): groupBy + in-bucket
    pair explosion.

    Deliberately NOT a self-join: joining the banded frame to itself
    duplicates the (expensive) signature expression tree on both sides —
    twice the compute and, with wide trees, pathological plan-compile
    times. groupBy(bucket) -> collect ids -> explode combinations computes
    signatures once, shuffles only (bucket, id) rows, and a bucket's pairs
    are generated locally. Bucket skew (a giant near-dup cluster) is the
    known LSH pathology — at 100 TB, cap or sample oversized buckets
    upstream; pair count within a bucket is quadratic by nature.
    """
    grouped = (
        banded.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_set(id_col)).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    n = F.size("ds")
    pairs = F.flatten(
        F.transform(
            F.sequence(F.lit(0), n - 2),
            lambda i: F.transform(
                F.sequence(i + 1, n - 1),
                lambda j: F.struct(
                    F.get("ds", i).alias("doc_a"), F.get("ds", j).alias("doc_b")
                ),
            ),
        )
    )
    return (
        grouped.select(F.explode(pairs).alias("p"))
        .select(F.col("p.doc_a"), F.col("p.doc_b"))
        .distinct()
    )


def lsh_bands(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int = 4, band_size: int = 2,
    k: int = 3,
) -> DataFrame:
    """(doc, band, bucket) assignments: shingle -> minhash -> banded md5.

    Bucket ids are built from the aggregated signature columns (one cheap
    md5 over band_size 32-char strings per band) and fanned out with a
    single posexplode — signatures are computed exactly once per doc.
    """
    sigs = minhash_signatures_df(df, text_col, id_col, num_hashes, k)
    buckets = []
    for b0 in range(0, num_hashes, band_size):
        cols = [f"minhash_{s}" for s in range(b0, min(b0 + band_size, num_hashes))]
        buckets.append(F.md5(F.concat_ws("|", *cols)))
    return sigs.select(
        F.col(id_col).alias("doc"),
        F.posexplode(F.array(*buckets)).alias("band", "bucket"),
    )


def lsh_candidate_pairs(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int = 4, band_size: int = 2,
    k: int = 3,
) -> DataFrame:
    """MinHash-LSH candidate pairs: band the signature, bucket-group.

    shingle -> minhash -> band -> bucket grouping (the classic pipeline).
    Docs sharing any band bucket become a candidate pair exactly once
    (DISTINCT over pairs). The only shuffle carries (doc, band, bucket)
    rows; no all-pairs comparison ever happens.
    """
    return bucket_pairs(lsh_bands(df, text_col, id_col, num_hashes, band_size, k))


def hyperplane_signs(band: int, nbits: int, dim: int) -> list[list[int]]:
    """Deterministic ±1 random-hyperplane components, md5-derived.

    sign(b, i) = +1 iff the first hex char of md5("band:b|i") is >= '8'
    (an unbiased coin from the hash's top bit). Pure-Python constants:
    the planes are literals in the generated plan, and any engine can
    re-derive the identical family — no RNG state to ship.
    """
    out = []
    for b in range(nbits):
        row = []
        for i in range(dim):
            h = hashlib.md5(f"{band}:{b}|{i}".encode()).hexdigest()
            row.append(1 if h[0] >= "8" else -1)
        out.append(row)
    return out


def hyperplane_projections(vec: Column, rows: list[list[int]]) -> Column:
    """All ``len(rows)`` hyperplane projections Σ_i sign(b,i)·v_i in ONE
    index-ordered aggregate pass over the vector — bit-identical across
    engines for identical float inputs (fixed summation order), so the
    signs (hence buckets) derived from it are engine-portable. Per-row,
    no shuffle.

    The ±1 planes are encoded as one '+-…' string literal per projection
    and expanded row-side: a dim-element literal array per plane would
    put thousands of literal nodes into the plan, and one aggregate per
    projection would multiply the operator tree by the projection count —
    both blow Janino/Catalyst compile time past the query's own runtime
    (the fused form exists precisely because 4 band-wise aggregates
    compiled 4× slower than they ran).
    """
    dim = len(rows[0])
    patterns = F.array(
        *[F.lit("".join("+" if s > 0 else "-" for s in row)) for row in rows]
    )
    dbl = F.transform(vec, lambda x: x.cast("double"))
    zero = F.array(*[F.lit(0.0) for _ in range(len(rows))])
    idx = F.sequence(F.lit(1), F.lit(dim))
    return F.aggregate(
        F.zip_with(dbl, idx, lambda x, i: F.struct(x.alias("x"), i.alias("i"))),
        zero,
        lambda acc, e: F.zip_with(
            acc,
            patterns,
            lambda a, p: a
            + e["x"]
            * F.when(F.substr(p, e["i"], F.lit(1)) == "+", F.lit(1.0)).otherwise(
                F.lit(-1.0)
            ),
        ),
    )


def _code_from_flags(flags: Column, start: int, nbits: int) -> Column:
    """code = Σ bit_b << b over flags[start:start+nbits], an MSB-first
    fold (acc*2 + bit). ``start`` is 0-based."""
    window = F.slice(flags, start + 1, nbits)
    return F.aggregate(F.reverse(window), F.lit(0), lambda acc, x: acc * 2 + x)


def hyperplane_code(vec: Column, signs: list[list[int]]) -> Column:
    """SimHash-style LSH bucket code: bit b = [Σ_i sign(b,i)·v_i >= 0].
    Single-band convenience over ``hyperplane_projections``."""
    projs = hyperplane_projections(vec, signs)
    flags = F.transform(projs, lambda p: F.when(p >= 0, F.lit(1)).otherwise(F.lit(0)))
    return _code_from_flags(flags, 0, len(signs))


def embedding_neardup_pairs(
    df: DataFrame, threshold: float = 0.4, nbits: int = 8, nbands: int = 4,
    dim: int | None = None, id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup via random-hyperplane LSH + verify.

    Codes are per-row expressions; candidate pairs come from a self-join
    on (band, code) — the shuffle key is the bucket, never all pairs.
    Survivors are cosine-verified (≥ threshold). At 100 TB, recall is
    tuned with nbits/nbands, and the verify join touches only bucket
    collisions.
    """
    from etl_process_spark.operators.similarity import EMBED_DIM, dot, norm

    if dim is None:
        dim = EMBED_DIM
    # ONE fused aggregate computes all nbands×nbits projections, staged
    # behind a projection boundary (CollapseProject keeps a non-cheap
    # alias used by every band fold from being re-inlined) — 4 band-wise
    # aggregate trees quadrupled Catalyst/Janino compile time for the
    # same math.
    all_rows = [
        row for band in range(nbands) for row in hyperplane_signs(band, nbits, dim)
    ]
    projected = ensure_parallelism(df).select(
        F.col(id_col).alias("doc"),
        hyperplane_projections(F.col(vec_col), all_rows).alias("projs"),
    )
    flagged = projected.select(
        "doc",
        F.transform(
            "projs", lambda p: F.when(p >= 0, F.lit(1)).otherwise(F.lit(0))
        ).alias("flags"),
    )
    codes = flagged.select(
        "doc",
        F.posexplode(
            F.array(
                *[
                    _code_from_flags(F.col("flags"), band * nbits, nbits)
                    for band in range(nbands)
                ]
            )
        ).alias("band", "bucket"),
    )
    cand = bucket_pairs(codes)
    # candidate rows carry only id pairs through the shuffle; vectors are
    # re-attached by key for the verify stage. Norms are computed once
    # per ROW here, not per pair: norm(v) on the same array is the same
    # fold in the same IEEE order wherever it runs, so hoisting it out
    # of the pair expression is bit-identical — and it cuts the verify
    # expression from three unrolled dim-term chains (dot + 2 norms) to
    # one, which matters twice: per-pair work at scale (each vector's
    # norm used to be recomputed for EVERY candidate it appears in) and
    # driver-side Catalyst/codegen cost per run (~3x smaller tree; the
    # 192-term form cost ~1.3 s of plan time per run at any SF).
    va = df.select(
        F.col(id_col).alias("vec_a"), F.col(vec_col).alias("va"),
        norm(F.col(vec_col), dim).alias("na"),
    )
    vb = df.select(
        F.col(id_col).alias("vec_b"), F.col(vec_col).alias("vb"),
        norm(F.col(vec_col), dim).alias("nb"),
    )
    return (
        cand.select(F.col("doc_a").alias("vec_a"), F.col("doc_b").alias("vec_b"))
        .join(va, "vec_a")
        .join(vb, "vec_b")
        .withColumn(
            "cos_sim_e6",
            # static dim keeps the verify dot unrolled in whole-stage
            # codegen; the interpreted fold costs ~20x more per
            # candidate pair and is bit-identical (same IEEE add order)
            F.floor(
                dot(F.col("va"), F.col("vb"), dim) / (F.col("na") * F.col("nb"))
                * F.lit(1000000.0)
            ).cast("long"),
        )
        .filter(F.col("cos_sim_e6") >= int(threshold * 1000000))
        .select("vec_a", "vec_b", "cos_sim_e6")
    )


def ngram_jaccard_pairs(
    df: DataFrame, text_col: str, id_col: str, k: int = 3, threshold: float = 0.2,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs.

    |A ∩ B| via a shingle-level equi self-join over DISTINCT shingles,
    |A ∪ B| = |A| + |B| - |A ∩ B|. With `candidates` (e.g. LSH output) the
    join is restricted to those pairs — the scale path; without, it
    degrades to all pairs sharing ≥1 shingle (fine at test scale, explicit
    opt-in only).
    """
    # distinct shingle sets via a parallel shuffle-dedup (array_distinct
    # inside a row is a quadratic single-core scan of each array)
    sh = shingle_rows(df, text_col, id_col, k).distinct()
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    if candidates is not None:
        # Restrict BEFORE intersecting: fan each candidate pair out by
        # doc_a's shingles, then equi-join on (doc_b, shingle) to keep only
        # shared ones. Work is O(candidate pairs × shingles per doc) — at
        # 100 TB this is the difference between verifying LSH's output and
        # accidentally intersecting every co-shingle pair in the corpus.
        sh_a = sh.select(F.col("doc").alias("doc_a"), "sh")
        sh_b = sh.select(F.col("doc").alias("doc_b"), "sh")
        inter = (
            candidates.select("doc_a", "doc_b")
            .join(sh_a, "doc_a")
            .join(sh_b, ["doc_b", "sh"])
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
    else:
        # all pairs sharing ≥1 shingle — explicit opt-in, test scale only
        a, b = sh.alias("a"), sh.alias("b")
        inter = (
            a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc") < F.col("b.doc")))
            .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn(
            "jaccard_ppm",
            F.expr("(1000000 * n_common) div (n_a + n_b - n_common)"),
        )
        .filter(F.col("jaccard_ppm") >= int(threshold * 1000000))
        .select("doc_a", "doc_b", "jaccard_ppm")
    )


def fingerprint_index(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """The stored exact-dedup index: one (fp, keep_id) row per distinct
    text currently in the corpus. At 100 TB this table (16-byte hashes)
    is what survives between pipeline runs — the corpus itself is never
    re-read to dedup a new batch."""
    return exact_dedup(df, text_col, id_col).select("fp", "keep_id")


def exact_dedup_incremental(
    index: DataFrame, batch: DataFrame, text_col: str, id_col: str
) -> tuple[DataFrame, DataFrame]:
    """Dedup a NEW batch against a stored fingerprint index.

    Returns ``(kept, new_index)``: batch rows whose text is unseen (one
    keeper per in-batch duplicate group, min id), and the index with the
    keepers merged in.

    Semantics: same fingerprint partition as a full recompute — one
    keeper per distinct text — but the keeper is FIRST-SEEN: once a
    fingerprint is indexed, a later batch carrying a smaller id for the
    same text does not displace it (a full recompute would keep the new
    min id). The keep-SET therefore equals full recompute exactly when
    ids are batch-monotonic (the common append-only case, and what the
    differential test exercises); under out-of-order ids only the choice
    of representative differs, never the partition into duplicate
    groups. First-seen is the deliberate choice for a stored index: the
    keeper already in the training corpus stays authoritative.

    Cost per run: one batch-sized groupBy + an anti join against the
    index (broadcast while the index is small; at scale both sides
    bucket by fp and the join is co-located, with the batch side always
    the small probe).
    """
    from etl_process_spark.operators.text import fingerprint

    batch_keepers = (
        batch.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"))
    )
    fresh = batch_keepers.join(index.select("fp"), on="fp", how="left_anti")
    kept = batch.join(
        fresh.select(F.col("keep_id").alias(id_col)), on=id_col, how="left_semi"
    )
    return kept, index.unionByName(fresh)


def lsh_band_index(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int = 4,
    band_size: int = 2, k: int = 3,
) -> DataFrame:
    """The stored near-dup index: (doc, band, bucket) assignments of the
    current corpus — what a production pipeline persists so new batches
    probe buckets instead of recomputing corpus signatures."""
    return lsh_bands(df, text_col, id_col, num_hashes, band_size, k)


def lsh_probe_pairs(
    index: DataFrame, batch: DataFrame, text_col: str, id_col: str,
    num_hashes: int = 4, band_size: int = 2, k: int = 3,
) -> DataFrame:
    """Near-dup candidate pairs of a NEW batch: (new, old) pairs via an
    equi join of the batch's bands against the stored index, plus
    (new, new) pairs within the batch — the corpus is NEVER re-banded
    or self-joined.

    Output columns (doc_a, doc_b) with doc_a < doc_b, distinct. This is
    provably the full-corpus ``lsh_candidate_pairs`` restricted to pairs
    touching the batch (bucket collision is pairwise — no transitivity
    involved), so incremental probing loses nothing (differential test).
    Shuffle: batch bands only; the index side of the join is pre-bucketed
    by (band, bucket) at scale.
    """
    new_bands = lsh_bands(batch, text_col, id_col, num_hashes, band_size, k)
    return probe_pairs_from_bands(index, new_bands)


def probe_pairs_from_bands(index: DataFrame, new_bands: DataFrame) -> DataFrame:
    """``lsh_probe_pairs`` taking the batch's (doc, band, bucket) rows
    directly — callers that also persist the bands (the streaming sink)
    compute them once instead of re-banding the batch per consumer."""
    cross = (
        new_bands.alias("n")
        .join(
            index.alias("o"),
            (F.col("n.band") == F.col("o.band"))
            & (F.col("n.bucket") == F.col("o.bucket"))
            & (F.col("n.doc") != F.col("o.doc")),
        )
        .select(
            F.least(F.col("n.doc"), F.col("o.doc")).alias("doc_a"),
            F.greatest(F.col("n.doc"), F.col("o.doc")).alias("doc_b"),
        )
    )
    within = bucket_pairs(new_bands)
    return cross.unionByName(within).distinct()


def allpairs_jaccard(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num: int = 3,
    den: int = 5,
) -> DataFrame:
    """COMPLETE set-similarity self-join at Jaccard >= num/den via prefix
    filtering (AllPairs / PPJoin family, Bayardo et al., "Scaling Up All
    Pairs Similarity Search", WWW'07) — the deterministic alternative to
    LSH: no banding false negatives, every qualifying pair is found.

    Principle: order every document's distinct shingles by one global
    (document-frequency asc, shingle asc) total order — rarest first —
    and keep only the first ``n - ceil(θ·n) + 1`` as its PREFIX. Two
    sets with Jaccard >= θ MUST share a prefix element (pigeonhole on
    the common order), so the candidate join runs on prefix rows only:
    rare shingles make small buckets, and the ubiquitous shingles that
    would pair everything with everything sit at the ORDER'S END, outside
    every prefix — the same pruning a frequency-sorted inverted index
    gives, expressed as one equi-join.

    Threshold arithmetic is integer-only (prefix length
    ``n - (num·n + den - 1) div den + 1``, acceptance ``den·|∩| >=
    num·|∪|``) — no float boundary for engines to disagree on.

    Shuffles: shingle distinct, df count, per-doc sort agg, prefix
    equi-join, candidate distinct, two array attach joins. Candidate
    volume is Σ_prefix-bucket C(size, 2) — df-ordering is what keeps
    buckets small; the verify step touches candidates only.
    """
    # per-doc SET semantics via map-side array_distinct — a shuffle
    # `distinct` over the exploded rows costs more than every other
    # stage here; within-doc dedup needs no exchange at all. The result
    # feeds BOTH the df count and the ordering join, so materialize it
    # once. Verification carries DICTIONARY-ENCODED sets (xxhash64 per
    # shingle, see _allpairs_verify): the candidate-attach joins move
    # 8-byte ints instead of ~30-byte shingle strings (measured 2x the
    # whole operator when verifying on raw strings); a production
    # deployment substitutes a rank dictionary from the df sort
    # (collision odds here: ~|union|²/2⁶⁴ per pair, vanishing).
    toks = ensure_parallelism(df).select(
        F.col(id_col).alias("doc"),
        F.array_distinct(shingles(F.col(text_col))).alias("sharr"),
    )
    sh = checkpoint(
        toks.select("doc", F.explode("sharr").alias("sh")), eager=False
    )
    dfq = sh.groupBy("sh").agg(F.count("*").alias("dfc"))
    ordered = _allpairs_ordered(sh, dfq)
    pref = _allpairs_prefix(ordered, num, den)
    cand = (
        pref.alias("a")
        .join(pref.alias("b"), "sh")
        .where(F.col("a.doc") < F.col("b.doc"))
        .where(_allpairs_pair_filters(num, den, "a", "b"))
        .select(F.col("a.doc").alias("da"), F.col("b.doc").alias("db"))
        .distinct()
    )
    enc = ordered.select(
        "doc", F.expr("transform(t, s -> xxhash64(s))").alias("h")
    )
    return _allpairs_verify(cand, enc, enc, num, den)


def allpairs_index(
    df: DataFrame, text_col: str, id_col: str, num: int = 3, den: int = 5
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The stored AllPairs index: ``(order, prefixes, sets)`` — what a
    pipeline persists so new batches probe prefixes instead of
    re-joining the corpus.

    * ``order``: the frozen (shingle → df) table defining the global
      prefix order at index-build time;
    * ``prefixes``: (doc, sh, pos, n) prefix rows of the corpus under it;
    * ``sets``: (doc, h) dictionary-encoded shingle sets for exact
      verification.
    """
    toks = ensure_parallelism(df).select(
        F.col(id_col).alias("doc"),
        F.array_distinct(shingles(F.col(text_col))).alias("sharr"),
    )
    sh = checkpoint(
        toks.select("doc", F.explode("sharr").alias("sh")), eager=False
    )
    dfq = sh.groupBy("sh").agg(F.count("*").alias("dfc"))
    ordered = _allpairs_ordered(sh, dfq)
    pref = _allpairs_prefix(ordered, num, den)
    enc = ordered.select(
        "doc", F.expr("transform(t, s -> xxhash64(s))").alias("h")
    )
    return dfq, pref, enc


def _allpairs_ordered(sh: DataFrame, dfq: DataFrame) -> DataFrame:
    """Per-doc shingle arrays sorted by the (df, shingle) order; shingles
    absent from ``dfq`` (unseen at index time) rank as df 0 — rarest
    first, which is exactly where brand-new content belongs."""
    return checkpoint(
        sh.join(dfq, "sh", "left")
        .select(
            "doc",
            F.struct(
                F.coalesce("dfc", F.lit(0)).alias("dfc"), F.col("sh")
            ).alias("s"),
        )
        .groupBy("doc")
        .agg(F.array_sort(F.collect_list("s")).alias("a"))
        .select("doc", F.expr("transform(a, x -> x.sh)").alias("t")),
        eager=False,
    )


def _allpairs_prefix(ordered: DataFrame, num: int, den: int) -> DataFrame:
    """Prefix rows (doc, sh, pos, n): position within the ordered set and
    the set size ride along so the candidate join can apply the length
    and positional filters (below) before the expensive distinct+verify."""
    plen = F.expr(
        f"size(t) - CAST(({num} * size(t) + {den - 1}) DIV {den} AS INT) + 1"
    )
    return ordered.select(
        "doc",
        F.size("t").alias("n"),
        F.posexplode(F.slice("t", F.lit(1), plen)).alias("pos", "sh"),
    ).select("doc", "sh", (F.col("pos") + 1).alias("pos"), "n")


def _allpairs_pair_filters(
    num: int, den: int, a: str, b: str
):
    """AllPairs length filter + PPJoin positional filter, integer-only.

    Length: J ≥ num/den forces num·|A| ≤ den·|B| and num·|B| ≤ den·|A| —
    prunes size-mismatched pairs without looking at elements.
    Positional: J ≥ num/den ⟺ (num+den)·|∩| ≥ num·(|A|+|B|); a common
    element at 1-based ordered positions (pa, pb) bounds
    |∩| ≤ min(|A|−pa, |B|−pb) + 1 (everything shared beyond it, plus
    itself — sound for the FIRST common element, which the prefix join
    necessarily emits). A pair survives iff SOME emitted row passes, so
    completeness is untouched (Xiao et al., WWW'08).
    """
    na, nb = F.col(f"{a}.n"), F.col(f"{b}.n")
    pa, pb = F.col(f"{a}.pos"), F.col(f"{b}.pos")
    length_ok = (F.lit(den) * na >= F.lit(num) * nb) & (
        F.lit(den) * nb >= F.lit(num) * na
    )
    ubound = F.least(na - pa, nb - pb) + F.lit(1)
    pos_ok = F.lit(num + den) * ubound >= F.lit(num) * (na + nb)
    return length_ok & pos_ok


def _allpairs_verify(
    cand: DataFrame, enc_a: DataFrame, enc_b: DataFrame, num: int, den: int
) -> DataFrame:
    inter = F.size(F.array_intersect("ha", "hb"))
    return (
        cand.join(enc_a.select(F.col("doc").alias("da"),
                               F.col("h").alias("ha")), "da")
        .join(enc_b.select(F.col("doc").alias("db"),
                           F.col("h").alias("hb")), "db")
        .select(
            F.col("da").alias("doc_a"),
            F.col("db").alias("doc_b"),
            inter.alias("i"),
            (F.size("ha") + F.size("hb") - inter).alias("u"),
        )
        .where(F.lit(den) * F.col("i") >= F.lit(num) * F.col("u"))
        .select(
            "doc_a", "doc_b",
            F.expr("(1000000 * i) div u").alias("jaccard_ppm"),
        )
    )


def allpairs_probe(
    index: tuple[DataFrame, DataFrame, DataFrame],
    batch: DataFrame,
    text_col: str,
    id_col: str,
    num: int = 3,
    den: int = 5,
) -> DataFrame:
    """All Jaccard >= num/den pairs TOUCHING a new batch — (new, old)
    via the batch's prefixes against the stored index prefixes, plus
    (new, new) within the batch — without re-joining the corpus.

    Soundness under the FROZEN order: prefix-filtering completeness
    needs only that both sides prefix under the SAME total order — df
    accuracy is a bucket-size heuristic, not a correctness input — so
    the index-time (df, shingle) order stays valid as the corpus grows
    (unseen shingles order as df 0). And because verification is exact,
    the probe's VERIFIED pairs equal the full-recompute pairs touching
    the batch even though the two runs' candidate sets differ under
    their different orders (differential-tested).
    """
    dfq, idx_pref, idx_enc = index
    toks = ensure_parallelism(batch).select(
        F.col(id_col).alias("doc"),
        F.array_distinct(shingles(F.col(text_col))).alias("sharr"),
    )
    sh = checkpoint(
        toks.select("doc", F.explode("sharr").alias("sh")), eager=False
    )
    ordered = _allpairs_ordered(sh, dfq)
    pref = checkpoint(_allpairs_prefix(ordered, num, den), eager=False)
    enc = ordered.select(
        "doc", F.expr("transform(t, s -> xxhash64(s))").alias("h")
    )
    cross = (
        pref.alias("n")
        .join(idx_pref.alias("o"),
              (F.col("n.sh") == F.col("o.sh"))
              & (F.col("n.doc") != F.col("o.doc")))
        .where(_allpairs_pair_filters(num, den, "n", "o"))
        .select(F.least(F.col("n.doc"), F.col("o.doc")).alias("da"),
                F.greatest(F.col("n.doc"), F.col("o.doc")).alias("db"))
    )
    within = (
        pref.alias("a")
        .join(pref.alias("b"), "sh")
        .where(F.col("a.doc") < F.col("b.doc"))
        .where(_allpairs_pair_filters(num, den, "a", "b"))
        .select(F.col("a.doc").alias("da"), F.col("b.doc").alias("db"))
    )
    cand = cross.unionByName(within).distinct()
    both_enc = idx_enc.unionByName(enc).distinct()
    return _allpairs_verify(cand, both_enc, both_enc, num, den)


def lsh_collision_probability(jaccard: float, bands: int, rows: int) -> float:
    """P(two docs share ≥1 LSH bucket | Jaccard similarity s): the
    banding S-curve 1 − (1 − s^r)^b — each of r minhashes in a band
    matches with probability s, a band collides iff all r match, and
    any of the b bands colliding makes the pair a candidate."""
    if not 0.0 <= jaccard <= 1.0:
        raise ValueError("jaccard must be in [0, 1]")
    return 1.0 - (1.0 - jaccard**rows) ** bands


def lsh_tune(
    threshold: float,
    min_recall: float = 0.9,
    max_hashes: int = 64,
    background: float | None = None,
) -> tuple[int, int]:
    """Choose (bands, rows_per_band) for a target Jaccard ``threshold``
    under a signature budget: among all bandings with b·r ≤
    ``max_hashes`` whose S-curve catches a pair AT the threshold with
    probability ≥ ``min_recall``, pick the one with the LOWEST collision
    probability at the ``background`` similarity (default threshold/2) —
    ties broken by fewer total hashes, then fewer bands.

    That objective is the one that matters at 100 TB: sub-threshold
    collisions are the bucket-join explosion (every false candidate is
    a verify-stage row), so recall is the constraint and background
    false-candidate rate is the cost. Maximal r under the budget wins
    (sharpest S-curve), which is why the folk default r=2 beats r=1 and
    a tuned r beats both. Pure deterministic arithmetic (the S-curve is
    Leskovec/Rajaraman/Ullman, Mining of Massive Datasets §3.4), so
    planning-side and engine-side agree.
    """
    import math

    if not 0.0 < threshold < 1.0:
        raise ValueError("threshold must be in (0, 1)")
    if not 0.0 < min_recall < 1.0:
        raise ValueError("min_recall must be in (0, 1)")
    if background is None:
        background = threshold / 2.0
    best: tuple[float, int, int, int, int] | None = None  # (p_bg, total, b, r)
    for rows in range(1, max_hashes + 1):
        p_band = threshold**rows
        if p_band < 1e-12:
            break  # no affordable band count reaches the recall
        # smallest b with 1-(1-p)^b >= recall  ⇒  b >= log(1-recall)/log(1-p)
        if p_band >= 1.0:
            bands = 1
        else:
            bands = math.ceil(
                math.log(1.0 - min_recall) / math.log(1.0 - p_band)
            )
        if bands < 1 or bands * rows > max_hashes:
            continue
        p_bg = lsh_collision_probability(background, bands, rows)
        key = (p_bg, bands * rows, bands, rows, 0)
        if best is None or key < best:
            best = key
    if best is None:
        raise ValueError(
            f"no (bands, rows) within {max_hashes} hashes reaches "
            f"recall {min_recall} at threshold {threshold}"
        )
    return best[2], best[3]


def simhash_signatures(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(doc, shs) — the 64-bit SimHash as array<int> of four 16-bit band
    values, MSB-first (shs[1] holds signature bits 0..15).

    Bit i (0..63) of a token votes with bit (i mod 4) of hex nibble
    (i div 4 + 1) of ONE md5(token); the document's bit is set iff a
    strict majority of tokens set it (Σ±1 > 0 ⇔ 2·S_i > n). The
    band-value representation (4 × 16-bit ints) keeps every value far
    from BIGINT sign/overflow territory in BOTH engines (a literal
    1<<63 overflows DuckDB's BIGINT), and the band values ARE the LSH
    bucket keys, so no bit-slicing is needed downstream.

    Plan shape (the 100 TB one): explode tokens → md5 once per token →
    ``conv`` each 4-hex-char slice into a 16-bit int → groupBy(doc)
    with 64 bit-tally sums + count. Everything stays in whole-stage
    codegen (an earlier higher-order-function formulation evaluated
    interpreted and was ~20× slower); the shuffle carries one 65-int
    row per (partition, doc) thanks to map-side partial aggregation.
    """
    # single-file parquet corpora arrive as ONE scan split; the
    # per-token md5 + bit-tally map work below would serialize on one
    # core without the round-robin spread (same remedy as the shingle
    # operators; a no-op cost at real scale where scans are wide, and
    # disabled session-wide by spark.graft.ensureParallelism=false)
    tok = ensure_parallelism(df).select(
        F.col(id_col).alias("doc"),
        # explode_OUTER: a NULL/empty text must keep its doc row (one
        # NULL token → all tallies NULL → every majority test false →
        # zero signature), matching the per-row oracle formulation where
        # NULL votes fall to ELSE 0. Plain explode would silently DROP
        # such docs from the signature table — a latent cross-engine
        # divergence on corpora with NULL text.
        F.explode_outer(F.transform(tokens(F.col(text_col)), F.md5)).alias("h"),
    ).select(
        "doc",
        *[
            F.conv(F.substring("h", 4 * b + 1, 4), 16, 10)
            .cast("int")
            .alias(f"h{b}")
            for b in range(4)
        ],
    )
    tallies = tok.groupBy("doc").agg(
        F.count("*").alias("n"),
        *[
            F.sum(F.shiftright(F.col(f"h{b}"), 15 - j).bitwiseAND(F.lit(1)))
            .alias(f"s_{b}_{j}")
            for b in range(4)
            for j in range(16)
        ],
    )
    two = F.lit(2)
    bands = [
        sum(
            (
                F.when(two * F.col(f"s_{b}_{j}") > F.col("n"), F.lit(1))
                .otherwise(F.lit(0))
                * F.lit(1 << (15 - j))
            )
            for j in range(16)
        ).cast("int")
        for b in range(4)
    ]
    return tallies.select("doc", F.array(*bands).alias("shs"))


def simhash_bands(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(doc, shs, band, bucket) assignments from the 64-bit SimHash:
    band b (0..3) buckets on signature bits [16b, 16b+16).

    Hamming-LSH banding: two docs within Hamming distance d of each
    other on a w-bit signature share at least one of w/band_bits bands
    whenever d < nbands (pigeonhole — d flipped bits can spoil at most
    d bands), so banding is a RECALL-EXACT candidate filter for
    d ≤ bands−1 = 3. 16-bit bands give 65,536 buckets per band — the
    round-3 16-bit/4-bit layout had only 16 buckets per band, an
    ~n²/128 in-bucket pair explosion that was quadratic in corpus size;
    with 2^16 buckets, buckets stay near-singleton until genuine
    near-dup mass shows up.
    """
    return simhash_signatures(df, text_col, id_col).select(
        "doc", "shs", F.posexplode("shs").alias("band", "bucket")
    )


def simhash_dup_pairs(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs: banded Hamming LSH → in-bucket pair
    explosion → exact popcount(xor) verify.

    The verify stage is integer-only (sum of bit_count(xor) over the
    four 16-bit band values), so the result hashes identically in any
    engine. 64-bit signatures in 4×16-bit bands keep recall exact for
    Hamming ≤ 3 (pigeonhole, see simhash_bands) while making buckets
    selective (2^16 per band); the candidate join shuffles only
    (band, bucket, doc) rows and pairs explode bucket-locally — never
    an all-pairs comparison. Returns (doc_a, doc_b, hamming) with
    doc_a < doc_b.
    """
    # sign-once: the signature table (doc, shs) feeds THREE subtrees
    # (the banded candidate join and both verify sides), and nothing
    # tells Catalyst they share the per-token md5 + 65-aggregate
    # signature pass — un-materialized it computes 3x. A checkpoint
    # pins the doc-count-sized digest table (the image_phash
    # decode-once pattern; tiny at any corpus scale next to the token
    # stream it derives from).
    sig = checkpoint(simhash_signatures(df, text_col, id_col), eager=False)
    banded = sig.select("doc", F.posexplode("shs").alias("band", "bucket"))
    pairs = bucket_pairs(banded.select("doc", "band", "bucket"))
    a = sig.select(F.col("doc").alias("doc_a"), F.col("shs").alias("shs_a"))
    b = sig.select(F.col("doc").alias("doc_b"), F.col("shs").alias("shs_b"))
    ham = sum(
        F.bit_count(
            F.element_at("shs_a", k).bitwiseXOR(F.element_at("shs_b", k))
        )
        for k in range(1, 5)
    )
    return (
        pairs.join(a, "doc_a").join(b, "doc_b")
        .select("doc_a", "doc_b", ham.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def dup_window_stats(
    df: DataFrame, text_col: str, id_col: str, k: int = 8,
) -> DataFrame:
    """Per-document duplicated-substring mass: the fraction of k-token
    windows whose fingerprint also occurs in ANOTHER document — the
    distributed shape of exact substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better": suffix
    arrays find repeated spans; a fixed-width window fingerprint is the
    shuffle-friendly approximation, exact for spans ≥ k tokens).

    Data flow: explode k-token windows (positions preserved) → md5 each
    window once → the gram-level agg counts DISTINCT docs per gram
    (map-side partial) → broadcast-join-back marks each window dup/not →
    per-doc counts. Two shuffles, both carrying 16-byte digests; the
    corpus text never moves after the window explode. Output:
    (doc, n_windows, n_dup_windows, dup_ppm) — dup_ppm is exact integer
    ppm, no double at the boundary. Docs with < k tokens are absent.
    """
    win = shingle_rows(df, text_col, id_col, k=k).select(
        "doc", F.md5("sh").alias("g")
    )
    gram_docs = win.groupBy("g").agg(
        F.count_distinct("doc").alias("n_docs")
    )
    marked = win.join(gram_docs, "g").select(
        "doc", (F.col("n_docs") >= 2).cast("int").alias("is_dup")
    )
    return marked.groupBy(F.col("doc")).agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum("is_dup").alias("n_dup_windows"),
        (F.sum("is_dup") * 1000000).cast("bigint").alias("_num"),
    ).select(
        "doc", "n_windows", "n_dup_windows",
        F.expr("_num DIV n_windows").alias("dup_ppm"),
    )
