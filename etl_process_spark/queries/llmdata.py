"""Training-data pipeline queries: dedup, similarity search, text analysis,
JSON extraction — the extension surface (SURVEY §7 step 8) as first-class,
oracle-checked operators over the `documents` / `embeddings` / `events`
tables.

Tokenization contract shared with every oracle: lower -> trim -> split on
whitespace runs (operators/text.py). Hashes are md5 (engine-portable);
doubles that feed rankings are rounded to 6 decimals with (score, id)
tie-breaks so top-k sets are reproducible across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_process_spark.operators import dedup as dd
from etl_process_spark.operators import similarity as sim
from etl_process_spark.operators import text as tx
from etl_process_spark.queries.registry import query, tbl
from etl_process_spark.session import checkpoint

# DuckDB-side mirrors of the tokenization / shingle contract.
_TOKS = "string_split_regex(trim(lower(text)), '\\s+')"
_SHINGLES = f"""
  SELECT doc_id, list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                               for i in range(1, len(t)-1)]) AS s
  FROM (SELECT doc_id, {_TOKS} AS t FROM documents)
  WHERE len(t) >= 3
"""
# Signature family: min over shingles of left-rotations of ONE md5 digest
# (rotation = bijection of the hash space; 1x hashing for any width).
_SIGS = """
  SELECT doc_id,
         list_aggregate([md5(x) for x in s], 'min') AS m0,
         list_aggregate([substr(md5(x), 9) || substr(md5(x), 1, 8) for x in s], 'min') AS m1,
         list_aggregate([substr(md5(x), 17) || substr(md5(x), 1, 16) for x in s], 'min') AS m2,
         list_aggregate([substr(md5(x), 25) || substr(md5(x), 1, 24) for x in s], 'min') AS m3
  FROM sh
"""
_BANDS = """
  SELECT doc_id, 0 AS band, md5(m0 || '|' || m1) AS bucket FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band, md5(m2 || '|' || m3) AS bucket FROM sig
"""


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------

@query(
    "dedup_exact",
    f"""
    SELECT md5(array_to_string({_TOKS}, ' ')) AS fp,
           min(doc_id) AS keep_id, count(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by canonical-text fingerprint (hash-groupBy).

    Groups on the 16-byte md5 of the normalized token stream, not the text
    itself — the shuffle carries hashes, not the corpus.
    """
    return dd.exact_dedup(tbl(spark, sf_dir, "documents"), "text", "doc_id")


@query(
    "minhash_signatures",
    f"""
    WITH sh AS ({_SHINGLES}), sig AS ({_SIGS})
    SELECT doc_id, m0 AS minhash_0, m1 AS minhash_1, m2 AS minhash_2, m3 AS minhash_3
    FROM sig
    """,
)
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (4 rotations of one md5 over word 3-shingles):
    explode shingles → hash once → min-aggregate per doc (map-side
    partial agg; the shuffle carries one digest per partition×doc)."""
    docs = tbl(spark, sf_dir, "documents")
    return dd.minhash_signatures_df(docs, "text", "doc_id", num_hashes=4, k=3)


@query(
    "lsh_candidate_pairs",
    f"""
    WITH sh AS ({_SHINGLES}),
         sig AS ({_SIGS}),
         bands AS ({_BANDS})
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    """,
)
def lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate generation: 2 bands x 2 rows, bucket join.

    The only shuffle is on band-bucket keys; no all-pairs comparison ever
    happens — the property that makes near-dedup feasible at 100 TB.
    """
    return dd.lsh_candidate_pairs(
        tbl(spark, sf_dir, "documents"), "text", "doc_id", num_hashes=4, band_size=2, k=3
    )


@query(
    "neardup_method_agreement",
    f"""
    WITH sh AS ({_SHINGLES}),
         sig AS ({_SIGS}),
         bands AS ({_BANDS}),
    cand AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
                   AND a.doc_id < b.doc_id),
    gr AS (SELECT doc_id, unnest(s) AS gram FROM sh),
    dfq AS (SELECT gram, count(*) AS dfc FROM gr GROUP BY 1),
    -- MATERIALIZED: referenced three times (pref, and twice in v);
    -- DuckDB inlines multi-referenced CTEs, and three copies of the
    -- per-doc gram-list build hold un-spillable list state that OOMs
    -- the oracle at the 10x replica (same failure family as the BFS
    -- and pagerank edge CTEs)
    ordered AS MATERIALIZED (
      SELECT gr.doc_id, list(gr.gram ORDER BY dfq.dfc, gr.gram) AS t
      FROM gr JOIN dfq USING (gram) GROUP BY gr.doc_id),
    pref AS (
      SELECT doc_id,
             unnest(t[1 : len(t) - (3 * len(t) + 4) // 5 + 1]) AS gram
      FROM ordered),
    candx AS (
      SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      FROM pref a JOIN pref b ON a.gram = b.gram AND a.doc_id < b.doc_id),
    v AS (
      SELECT c.da, c.db, len(list_intersect(x.t, y.t)) AS i,
             len(x.t) + len(y.t) - len(list_intersect(x.t, y.t)) AS u
      FROM candx c JOIN ordered x ON x.doc_id = c.da
                   JOIN ordered y ON y.doc_id = c.db),
    truth AS (SELECT da, db FROM v WHERE 5 * i >= 3 * u),
    hits AS (
      SELECT t.da, CASE WHEN c.doc_a IS NULL THEN 0 ELSE 1 END AS hit
      FROM truth t LEFT JOIN cand c ON t.da = c.doc_a AND t.db = c.doc_b)
    SELECT CAST(count(*) AS BIGINT) AS n_true,
           (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_lsh_candidates,
           CAST(sum(hit) AS BIGINT) AS n_found,
           CAST(CASE WHEN count(*) = 0 THEN 0
                     ELSE (1000000 * sum(hit)) // count(*) END
                AS BIGINT) AS recall_ppm
    FROM hits
    """,
)
def neardup_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-quality observability: measure MinHash-LSH banding's recall
    against exact ground truth — the AllPairs/PPJoin complete pair set
    at Jaccard ≥ 3/5 — on the same corpus. At 100 TB this is the audit a
    pipeline runs on a sample before trusting probabilistic dedup: LSH
    banding trades recall for the bucket join (tunable via the S-curve
    tuner); this query makes the trade measurable instead of assumed.
    One row: (n_true, n_lsh_candidates, n_found, recall_ppm), all exact
    integers.
    """
    docs = tbl(spark, sf_dir, "documents")
    truth = dd.allpairs_jaccard(docs, "text", "doc_id").select("doc_a", "doc_b")
    lsh = dd.lsh_candidate_pairs(
        docs, "text", "doc_id", num_hashes=4, band_size=2, k=3
    )
    n_cand = lsh.agg(
        F.count(F.lit(1)).cast("long").alias("n_lsh_candidates")
    )
    hits = truth.join(
        lsh.withColumn("hit", F.lit(1)), ["doc_a", "doc_b"], "left"
    ).select(F.coalesce(F.col("hit"), F.lit(0)).alias("hit"))
    return (
        hits.agg(
            F.count(F.lit(1)).cast("long").alias("n_true"),
            F.sum("hit").cast("long").alias("n_found"),
        )
        .crossJoin(F.broadcast(n_cand))
        .select(
            "n_true", "n_lsh_candidates", "n_found",
            F.expr(
                "CAST(CASE WHEN n_true = 0 THEN 0"
                " ELSE (1000000 * n_found) DIV n_true END AS BIGINT)"
            ).alias("recall_ppm"),
        )
    )


@query(
    "spearman_chars_tokens",
    f"""
    WITH base AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS x,
             CAST(len({_TOKS}) AS BIGINT) AS y
      FROM documents),
    r AS (SELECT row_number() OVER (ORDER BY x, doc_id) AS rx,
                 row_number() OVER (ORDER BY y, doc_id) AS ry
          FROM base),
    s AS (SELECT count(*) AS n,
                 CAST(sum((rx - ry) * (rx - ry)) AS BIGINT) AS sum_d2
          FROM r)
    SELECT CAST(n AS BIGINT) AS n_docs, sum_d2,
           CAST(CASE WHEN n < 2 OR n > 20000 THEN NULL
                     ELSE (1000000 * (n * (n * n - 1) - 6 * sum_d2))
                          // (n * (n * n - 1)) END
                AS BIGINT) AS rho_ppm
    FROM s
    """,
)
def spearman_chars_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation as an exact-integer distributed
    statistic: ranks come from ``operators/ordinals.py::global_ordinals``
    (bucket prefix-sums — the total order WITHOUT a one-reducer window,
    the plan that survives 100 TB), ties broken by doc_id so both
    engines rank identically, and ρ leaves as ppm via one integer
    division. The oracle ranks with a plain window — a cross-plan check
    of the ordinal machinery as a by-product.

    Exactness bound: the ppm numerator is ~10⁶·n³, which exceeds BIGINT
    at n ≈ 21k rows, so rho_ppm guards to NULL above n = 20,000 on BOTH
    engines (Spark would wrap silently under ANSI-off, DuckDB would
    raise — either is a differential break). At corpus scale, compute ρ
    on a deterministic md5-gate sample (operators/sampling.py): rank
    correlation is a statistic, and a 20k-row uniform sample pins it to
    about ±1% — the ranks machinery itself (global_ordinals) has no such
    bound.
    """
    from etl_process_spark.operators.ordinals import global_ordinals

    docs = tbl(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("x"),
        F.size(tx.tokens(F.col("text"))).cast("bigint").alias("y"),
    )
    rx = global_ordinals(
        base, [F.col("x"), F.col("doc_id")],
        F.floor(F.col("x") / 256).cast("bigint"), "rx",
    )
    rxy = global_ordinals(
        rx, [F.col("y"), F.col("doc_id")],
        F.floor(F.col("y") / 16).cast("bigint"), "ry",
    )
    agg = rxy.select((F.col("rx") - F.col("ry")).alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("d") * F.col("d")).cast("long").alias("sum_d2"),
    )
    return agg.select(
        "n_docs", "sum_d2",
        F.expr(
            "CAST(CASE WHEN n_docs < 2 OR n_docs > 20000 THEN NULL"
            " ELSE (1000000 * (n_docs * (n_docs * n_docs - 1) - 6 * sum_d2))"
            " DIV (n_docs * (n_docs * n_docs - 1)) END AS BIGINT)"
        ).alias("rho_ppm"),
    )


@query(
    "ngram_jaccard_pairs",
    f"""
    WITH sh AS ({_SHINGLES}),
         sig AS ({_SIGS}),
         bands AS ({_BANDS}),
         cand AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM bands a
           JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
         ),
         ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
         inter AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
           FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
           GROUP BY 1, 2
         ),
         sizes AS (SELECT doc_id, len(s) AS n FROM sh)
    SELECT i.doc_a, i.doc_b,
           CAST((1000000 * i.n_common) // (sa.n + sb.n - i.n_common) AS BIGINT)
             AS jaccard_ppm
    FROM inter i
    JOIN cand c ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
    JOIN sizes sa ON i.doc_a = sa.doc_id
    JOIN sizes sb ON i.doc_b = sb.doc_id
    WHERE (1000000 * i.n_common) // (sa.n + sb.n - i.n_common) >= 200000
    """,
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard verification of LSH candidates (the verify
    stage of near-dedup: shingle-level equi join, candidates only)."""
    docs = tbl(spark, sf_dir, "documents")
    cands = dd.lsh_candidate_pairs(docs, "text", "doc_id", num_hashes=4, band_size=2, k=3)
    return dd.ngram_jaccard_pairs(docs, "text", "doc_id", k=3, threshold=0.2, candidates=cands)


@query(
    "simhash_values",
    f"""
    SELECT doc_id,
           CAST(list_sum([
             CASE WHEN list_sum([CASE WHEN strpos('89abcdef', substr(md5(t), b, 1)) > 0
                                      THEN 1 ELSE -1 END
                                 for t in toks]) > 0
                  THEN (1 << (16 - b)) ELSE 0 END
             for b in range(1, 17)]) AS BIGINT) AS simhash
    FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
    """,
)
def simhash_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document (near-dup clustering by Hamming
    distance); one per-row codegen expression, no shuffle."""
    docs = tbl(spark, sf_dir, "documents")
    return docs.select("doc_id", dd.simhash16(F.col("text")).cast("bigint").alias("simhash"))


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

@query(
    "text_quality",
    f"""
    SELECT doc_id,
           len(toks) AS n_tokens,
           len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_tokens_bpe,
           CAST((1000000 * list_sum([length(t) for t in toks]))
                // len(toks) AS BIGINT) AS avg_len_ppm,
           CAST((1000000 * len(list_filter(toks,
                    t -> t IN ('the','a','of','and','is'))))
                // len(toks) AS BIGINT) AS stopword_ppm
    FROM (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring features: token counts (whitespace + BPE-ish regex),
    mean token length, stopword ratio — per-row expressions."""
    docs = tbl(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        tx.token_count_ws(F.col("text")).alias("n_tokens"),
        tx.token_count_bpe(F.col("text")).alias("n_tokens_bpe"),
        tx.avg_token_len_ppm(F.col("text")).alias("avg_len_ppm"),
        tx.stopword_ppm(F.col("text")).alias("stopword_ppm"),
    )


@query(
    "lang_id_heuristic",
    f"""
    WITH s AS (
      SELECT doc_id,
             len(list_filter(toks, t -> t IN ('the','a','of','and','is'))) AS s_en,
             len(list_filter(toks, t -> t IN ('le','la','les','et','est'))) AS s_fr,
             len(list_filter(toks, t -> t IN ('der','die','das','und','ist'))) AS s_de,
             len(list_filter(toks, t -> t IN ('el','la','los','y','es'))) AS s_es
      FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
    )
    SELECT doc_id,
           CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
                WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
                WHEN s_es >= s_fr THEN 'es'
                ELSE 'fr' END AS lang_pred
    FROM s
    """,
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-stopword language ID with a deterministic lexicographic
    tie-break — the cheap language prior of a data pipeline."""
    docs = tbl(spark, sf_dir, "documents")
    return docs.select("doc_id", tx.lang_id(F.col("text")).alias("lang_pred"))


@query(
    "doc_fingerprint",
    f"""
    SELECT doc_id, md5(array_to_string({_TOKS}, ' ')) AS fp
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical document fingerprint (whitespace/case-invariant md5)."""
    docs = tbl(spark, sf_dir, "documents")
    return docs.select("doc_id", tx.fingerprint(F.col("text")).alias("fp"))


# ---------------------------------------------------------------------------
# Embedding similarity search
# ---------------------------------------------------------------------------

_COS_TOPK_SQL = """
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
    SELECT vec_id,
           CAST(floor(
             list_sum([embedding[i]::DOUBLE * qe[i]::DOUBLE
                       for i in range(1, len(embedding)+1)])
             / (sqrt(list_sum([embedding[i]::DOUBLE * embedding[i]::DOUBLE
                               for i in range(1, len(embedding)+1)]))
                * sqrt(list_sum([qe[i]::DOUBLE * qe[i]::DOUBLE
                                 for i in range(1, len(qe)+1)])))
             * 1000000) AS BIGINT) AS cos_sim_e6
    FROM embeddings, q
    ORDER BY cos_sim_e6 DESC, vec_id
    LIMIT 10
    """


@query("embedding_topk_cosine", _COS_TOPK_SQL)
def embedding_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 against vec_id=0 (the ANN baseline).

    Plans as map + TakeOrderedAndProject: per-partition top-k heaps, a
    k-row driver merge — no global sort at any corpus size.
    """
    emb = tbl(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    return sim.cosine_topk(emb, qv, k=10)


@query(
    "ivf_topk_per_label",
    """
    WITH cent AS (
      SELECT label AS cell, i, CAST(sum(CAST(floor(embedding[i]::DOUBLE * 1000000) AS BIGINT))
                  AS DOUBLE) / (count(*) * 1000000.0) AS c
      FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS i) s
      GROUP BY label, i
    ),
    dist AS (
      SELECT e.label AS cell, e.vec_id,
             CAST(floor(sum((e.embedding[c.i]::DOUBLE - c.c)
                            * (e.embedding[c.i]::DOUBLE - c.c)) * 1000000)
                  AS BIGINT) AS dist2_e6
      FROM embeddings e JOIN cent c ON e.label = c.cell
      GROUP BY e.label, e.vec_id
    )
    SELECT cell, vec_id, dist2_e6, CAST(rn AS INT) AS rn FROM (
      SELECT cell, vec_id, dist2_e6,
             row_number() OVER (PARTITION BY cell ORDER BY dist2_e6, vec_id) AS rn
      FROM dist
    ) WHERE rn <= 3
    """,
)
def ivf_topk_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe: per-cell centroid (coarse quantizer) + 3 nearest vectors
    per cell — the partitioned scale path of similarity search."""
    return sim.ivf_topk_per_cell(tbl(spark, sf_dir, "embeddings"), k=3)


def _neardup_codes_sql(nbits: int = 8, nbands: int = 4, dim: int = 64) -> str:
    """DuckDB mirror of the hyperplane bucket codes (literal sign arrays)."""
    parts = []
    for band in range(nbands):
        signs = dd.hyperplane_signs(band, nbits, dim)
        bits = []
        for b, row in enumerate(signs):
            lits = "[" + ",".join(f"{float(s)}" for s in row) + "]"
            bits.append(
                f"(CASE WHEN list_sum([embedding[i]::DOUBLE * ({lits})[i] "
                f"for i in range(1, {dim + 1})]) >= 0 THEN {1 << b} ELSE 0 END)"
            )
        parts.append(
            f"SELECT vec_id, {band} AS band, {' + '.join(bits)} AS code FROM embeddings"
        )
    return " UNION ALL ".join(parts)


@query(
    "embedding_neardup_pairs",
    f"""
    WITH codes AS ({_neardup_codes_sql()}),
         cand AS (
           SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
           FROM codes a
           JOIN codes b ON a.band = b.band AND a.code = b.code AND a.vec_id < b.vec_id
         ),
         n AS (SELECT vec_id, embedding,
                      sqrt(list_sum([x::DOUBLE * x::DOUBLE for x in embedding])) AS nrm
               FROM embeddings)
    SELECT c.vec_a, c.vec_b,
           CAST(floor(list_sum([a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE
                                for i in range(1, 65)]) / (a.nrm * b.nrm)
                      * 1000000) AS BIGINT) AS cos_sim_e6
    FROM cand c
    JOIN n a ON c.vec_a = a.vec_id
    JOIN n b ON c.vec_b = b.vec_id
    WHERE floor(list_sum([a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE
                          for i in range(1, 65)]) / (a.nrm * b.nrm)
                * 1000000) >= 400000
    """,
)
def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: random-hyperplane LSH buckets (4 bands ×
    8 bits, md5-derived planes) + cosine ≥ 0.4 verification — candidate
    generation shuffles on bucket keys, never all pairs."""
    return dd.embedding_neardup_pairs(tbl(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# Semi-structured extraction
# ---------------------------------------------------------------------------

@query(
    "json_props_extract",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
           CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_bucket
    FROM events
    """,
)
def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction from the events.props column
    (get_json_object — JVM-side path evaluation, no parsing UDFs)."""
    ev = tbl(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return ev.select("event_id", k.alias("k"), (k % 10).alias("k_bucket"))


@query(
    "neardup_clusters",
    f"""
    WITH RECURSIVE sh AS ({_SHINGLES}),
         sig AS ({_SIGS}),
         bands AS ({_BANDS}),
         pairs AS (
           SELECT DISTINCT a.doc_id AS pa, b.doc_id AS pb
           FROM bands a
           JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
                       AND a.doc_id < b.doc_id
         ),
         edges AS (
           SELECT pa AS ea, pb AS eb FROM pairs
           UNION
           SELECT pb, pa FROM pairs
         ),
         reach(n, m) AS (
           SELECT ea, eb FROM edges
           UNION
           SELECT r.n, e.eb FROM reach r JOIN edges e ON r.m = e.ea
         )
    SELECT n AS doc_id, least(n, min(m)) AS cluster_id
    FROM reach GROUP BY n
    """,
)
def neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the MinHash-LSH pair
    graph (operators/graph.py) — the step that turns pairwise candidates
    into keep-one-per-cluster dedup decisions. Iterative min-label
    propagation, one shuffle per round, rounds = cluster diameter (tiny
    for near-dup graphs). The oracle computes the same components via a
    recursive-CTE transitive closure — feasible only at oracle scale,
    which is exactly why the engine side iterates instead."""
    from etl_process_spark.operators.graph import connected_components

    pairs = dd.lsh_candidate_pairs(
        tbl(spark, sf_dir, "documents"), "text", "doc_id",
        num_hashes=4, band_size=2, k=3,
    )
    return connected_components(pairs, "doc_a", "doc_b").select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )


@query(
    "neardup_clusters_star",
    f"""
    WITH RECURSIVE sh AS ({_SHINGLES}),
         sig AS ({_SIGS}),
         bands AS ({_BANDS}),
         pairs AS (
           SELECT DISTINCT a.doc_id AS pa, b.doc_id AS pb
           FROM bands a
           JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
                       AND a.doc_id < b.doc_id
         ),
         edges AS (
           SELECT pa AS ea, pb AS eb FROM pairs
           UNION
           SELECT pb, pa FROM pairs
         ),
         reach(n, m) AS (
           SELECT ea, eb FROM edges
           UNION
           SELECT r.n, e.eb FROM reach r JOIN edges e ON r.m = e.ea
         )
    SELECT n AS doc_id, least(n, min(m)) AS cluster_id
    FROM reach GROUP BY n
    """,
)
def neardup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters via the alternating large-star/small-star
    algorithm (operators/graph.py::connected_components_star) — the
    high-diameter scale path: O(log² n) pointer-jumping rounds instead
    of one round per hop of cluster diameter. Same oracle SQL as
    ``neardup_clusters``, so the driver proves both engine paths compute
    identical components."""
    from etl_process_spark.operators.graph import connected_components_star

    pairs = dd.lsh_candidate_pairs(
        tbl(spark, sf_dir, "documents"), "text", "doc_id",
        num_hashes=4, band_size=2, k=3,
    )
    return connected_components_star(pairs, "doc_a", "doc_b").select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )


@query(
    "vocab_top_tokens",
    f"""
    SELECT tok, count(*) AS n
    FROM (SELECT unnest({_TOKS}) AS tok FROM documents)
    GROUP BY tok
    ORDER BY n DESC, tok
    LIMIT 200
    """,
)
def vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary building: corpus-wide token frequencies, top-200.

    explode → partial-aggregated groupBy (the shuffle carries one row per
    (token × partition), not per token occurrence) → TakeOrderedAndProject.
    The same plan shape builds a BPE corpus-statistics pass at 100 TB; the
    (n DESC, tok) tie-break keeps the top-k set engine-deterministic."""
    docs = tbl(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tx.tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "tok")
        .limit(200)
    )


@query(
    "quality_filter_keep",
    f"""
    WITH q AS (
      SELECT doc_id,
             len(toks) AS n_tokens,
             CAST(list_sum([length(t) for t in toks]) AS DOUBLE) / len(toks)
                 AS avg_len,
             CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','is')))
                  AS DOUBLE) / len(toks) AS stop_ratio
      FROM (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
    )
    SELECT doc_id FROM q
    WHERE n_tokens BETWEEN 8 AND 100000
      AND avg_len BETWEEN 2.0 AND 12.0
      AND stop_ratio >= 0.01
    """,
)
def quality_filter_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-gate filter: the keep-set a pretraining pipeline would pass
    downstream (length window, sane mean token length, minimum stopword
    density — the Gopher-rules shape). Pure per-row expressions; at 100 TB
    this is a zero-shuffle map stage fused into the scan."""
    docs = tbl(spark, sf_dir, "documents")
    t = tx.tokens(F.col("text"))
    n = F.size(t)
    avg_len = F.aggregate(t, F.lit(0), lambda a, x: a + F.length(x)).cast("double") / n
    stop = F.size(F.filter(t, lambda x: x.isin("the", "a", "of", "and", "is")))
    stop_ratio = stop.cast("double") / n
    return docs.filter(
        n.between(8, 100000)
        & avg_len.between(2.0, 12.0)
        & (stop_ratio >= 0.01)
    ).select("doc_id")


@query(
    "training_corpus_prep",
    f"""
    WITH q AS (
      SELECT doc_id, toks,
             len(toks) AS n_tokens,
             CAST(list_sum([length(t) for t in toks]) AS DOUBLE) / len(toks)
                 AS avg_len,
             CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','is')))
                  AS DOUBLE) / len(toks) AS stop_ratio
      FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
    ),
    kept AS (
      SELECT * FROM q
      WHERE n_tokens BETWEEN 8 AND 100000
        AND avg_len BETWEEN 2.0 AND 12.0
        AND stop_ratio >= 0.01
    ),
    fp AS (
      SELECT doc_id, md5(array_to_string(toks, ' ')) AS f, n_tokens, toks
      FROM kept
    ),
    keep1 AS (
      SELECT f, min(doc_id) AS doc_id, count(*) AS n_copies
      FROM fp GROUP BY f
    ),
    lang AS (
      SELECT doc_id,
             len(list_filter(toks, t -> t IN ('the','a','of','and','is'))) AS s_en,
             len(list_filter(toks, t -> t IN ('le','la','les','et','est'))) AS s_fr,
             len(list_filter(toks, t -> t IN ('der','die','das','und','ist'))) AS s_de,
             len(list_filter(toks, t -> t IN ('el','la','los','y','es'))) AS s_es,
             n_tokens
      FROM fp
    )
    SELECT k.doc_id, k.n_copies, l.n_tokens,
           CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
                WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
                WHEN s_es >= s_fr THEN 'es'
                ELSE 'fr' END AS lang_pred
    FROM keep1 k JOIN lang l ON k.doc_id = l.doc_id
    """,
)
def training_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data prep pipeline in one plan: Gopher-style
    quality filter (zero-shuffle map stage) → exact dedup keep-smallest
    per fingerprint (one hash-agg shuffle on 16-byte digests) → join the
    keeper's stats back (shuffle on doc_id) → per-doc token count +
    language tag. One scan of the corpus; the only wide stages carry
    hashes and ids, never text — the layout that survives 100 TB.
    Each stage is individually oracle-checked elsewhere; this query
    proves they COMPOSE without semantic drift."""
    docs = tbl(spark, sf_dir, "documents")
    feats = docs.select(
        "doc_id",
        F.col("text"),
        tx.token_count_ws(F.col("text")).alias("n_tokens"),
        tx.avg_token_len(F.col("text")).alias("avg_len"),
        tx.stopword_ratio(F.col("text")).alias("stop_ratio"),
        tx.fingerprint(F.col("text")).alias("f"),
        tx.lang_id(F.col("text")).alias("lang_pred"),
    ).filter(
        # raw-double thresholds, mirroring the oracle's unrounded
        # comparisons exactly (identical doubles compare identically;
        # quantizing only the FILTER side would shift the boundary)
        F.col("n_tokens").between(8, 100000)
        & (F.col("avg_len").between(2.0, 12.0))
        & (F.col("stop_ratio") >= 0.01)
    )
    keep1 = feats.groupBy("f").agg(
        F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_copies")
    )
    return keep1.join(
        feats.select("doc_id", "n_tokens", "lang_pred"), "doc_id"
    ).select("doc_id", "n_copies", "n_tokens", "lang_pred")


@query(
    "eval_decontamination",
    """
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    grams AS (
      SELECT doc_id,
             list_aggregate(w[i+1:i+4], 'string_agg', ' ') AS g
      FROM words, unnest(range(0, len(w)-3)) AS t(i)),
    eval_grams AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0),
    hits AS (
      SELECT g2.doc_id, count(DISTINCT g2.g) AS n_hits
      FROM grams g2 JOIN eval_grams e ON g2.g = e.g
      WHERE g2.doc_id % 50 <> 0
      GROUP BY g2.doc_id)
    SELECT doc_id, n_hits FROM hits
    """,
)
def eval_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any word
    4-gram with a held-out eval set (here: every 50th doc stands in for
    the benchmark).

    The canonical pre-training hygiene pass (n-gram overlap against eval
    suites). Eval n-grams are distinct-ed and BROADCAST — eval sets are
    small by definition, so the exploded training grams are never
    shuffled for the join; the only shuffle is the per-doc hit count.
    Gram explosion is map-side (transform+slice over the token array,
    all codegen); a 100 TB corpus streams through scan → explode →
    broadcast-semi probe → partial count.
    """
    docs = tbl(spark, sf_dir, "documents")
    words = dd.ensure_parallelism(docs).select(
        "doc_id", F.split("text", " ").alias("w")
    ).filter(
        F.size("w") >= 4
    )
    grams = words.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(w)-4), i -> concat_ws(' ', slice(w, i+1, 4)))"
            )
        ).alias("g"),
    )
    eval_grams = (
        grams.filter(F.col("doc_id") % 50 == 0).select("g").distinct()
    )
    return (
        grams.filter(F.col("doc_id") % 50 != 0)
        .join(F.broadcast(eval_grams), "g")
        .groupBy("doc_id")
        .agg(F.count_distinct("g").alias("n_hits"))
    )


@query(
    "doc_repetition_ratio",
    """
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    grams AS (
      SELECT doc_id, w[i+1] || ' ' || w[i+2] AS g
      FROM words, unnest(range(0, len(w)-1)) AS t(i)),
    counts AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY doc_id, g),
    tot AS (SELECT doc_id, max(c) AS top_c,
                   CAST(sum(c) AS BIGINT) AS n_grams
            FROM counts GROUP BY doc_id)
    SELECT doc_id, top_c, n_grams,
           CAST((1000000 * top_c) // n_grams AS BIGINT) AS top_gram_ppm
    FROM tot
    """,
)
def doc_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition (Gopher-style quality signal): the share
    of a document's word 2-grams taken by its single most frequent 2-gram.
    High values mean boilerplate/looping text — a standard pre-training
    drop rule alongside the length/stopword filters in quality_filter_keep.

    Two key shuffles, both doc_id-prefixed: the (doc_id, gram) count
    shuffle carries map-side-combined partials (far smaller than the raw
    exploded grams), and the per-doc max/sum regroups those counts. The
    ratio is emitted as exact parts-per-million via INTEGER division
    (Spark ``div`` ≡ DuckDB ``//``, both truncating) — no double ever
    reaches the output boundary, so no engine's ``round(DOUBLE, n)``
    ulp behavior can diverge the hash (the round-2 driver failure mode).
    """
    docs = tbl(spark, sf_dir, "documents")
    words = dd.ensure_parallelism(docs).select(
        "doc_id", F.split("text", " ").alias("w")
    ).filter(
        F.size("w") >= 2
    )
    grams = words.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(w)-2), i -> concat_ws(' ', slice(w, i+1, 2)))"
            )
        ).alias("g"),
    )
    counts = grams.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    tot = counts.groupBy("doc_id").agg(
        F.max("c").alias("top_c"), F.sum("c").alias("n_grams")
    )
    return tot.select(
        "doc_id",
        "top_c",
        "n_grams",
        F.expr("(1000000 * top_c) div n_grams").alias("top_gram_ppm"),
    )


@query(
    "doc_token_chunks",
    f"""
    WITH tok AS (SELECT doc_id, {_TOKS} AS t FROM documents)
    SELECT doc_id,
           CAST((s - 1) // 24 AS BIGINT) AS chunk_id,
           array_to_string(t[s:s+31], ' ') AS chunk_text,
           CAST(len(t[s:s+31]) AS BIGINT) AS n_tokens
    FROM tok, unnest(generate_series(1, len(t), 24)) AS u(s)
    """,
)
def doc_token_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: split each document into 32-token chunks
    with an 8-token overlap (stride 24) — the standard prep for embedding
    or training long documents against a fixed context size.

    Chunk starts are generated per row (``sequence(1, n_tokens, stride)``)
    and exploded; each chunk is an array ``slice`` re-joined to text. The
    whole operator is a map-side expression — ZERO shuffles at any corpus
    size, and the explode multiplies rows only by ceil(n/stride) (bounded
    fan-out, no skew: a doc's chunks stay in its input partition). Tail
    chunks shorter than the window are kept (the overlap guarantees no
    token is orphaned).
    """
    docs = tbl(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("t")
    )
    return (
        toks.select(
            "doc_id",
            "t",
            F.explode(F.sequence(F.lit(1), F.size("t"), F.lit(24))).alias("s"),
        )
        .select(
            "doc_id",
            F.expr("CAST((s - 1) div 24 AS BIGINT)").alias("chunk_id"),
            F.concat_ws(" ", F.expr("slice(t, s, 32)")).alias("chunk_text"),
            F.expr("CAST(size(slice(t, s, 32)) AS BIGINT)").alias("n_tokens"),
        )
    )


@query(
    "packed_training_sequences",
    f"""
    WITH tok AS (
      SELECT doc_id, lang, CAST(len({_TOKS}) AS BIGINT) AS n_tokens
      FROM documents),
    placed AS (
      SELECT lang, n_tokens,
             sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum
      FROM tok)
    SELECT lang, CAST((cum - n_tokens) // 512 AS BIGINT) AS seq_id,
           count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM placed
    GROUP BY lang, (cum - n_tokens) // 512
    """,
)
def packed_training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: concatenate documents (in deterministic doc_id
    order, per language) into fixed-budget training sequences of 512
    tokens — the running-total bin assignment used to pack short docs
    into full context windows without padding waste.

    Implemented as ``operators/packing.py::pack_sequences`` with
    ``shards=1`` — the oracle-checkable single-lane special case of the
    sharded operator (see packed_training_sequences_sharded for the
    k-way-parallel layout a 100 TB corpus requires).
    """
    from etl_process_spark.operators.packing import pack_sequences, pack_summary

    docs = tbl(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        "lang",
        F.size(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
        .cast("bigint")
        .alias("n_tokens"),
    )
    assigned = pack_sequences(tok, budget=512, shards=1)
    return pack_summary(assigned).select("lang", "seq_id", "n_docs", "total_tokens")


@query(
    "packed_training_sequences_sharded",
    f"""
    WITH tok AS (
      SELECT doc_id, lang, CAST(len({_TOKS}) AS BIGINT) AS n_tokens
      FROM documents),
    placed AS (
      SELECT lang, doc_id % 4 AS shard, n_tokens,
             sum(n_tokens) OVER (PARTITION BY lang, doc_id % 4 ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum
      FROM tok)
    SELECT lang, CAST(shard AS BIGINT) AS shard,
           CAST((cum - n_tokens) // 512 AS BIGINT) AS seq_id,
           count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM placed
    GROUP BY lang, shard, (cum - n_tokens) // 512
    """,
)
def packed_training_sequences_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing in the SHARDED layout — the plan that survives
    100 TB. The window partitions on (lang, shard) with shard =
    ``doc_id % 4``, so each language packs in 4 independent parallel
    lanes; the cost is ≤ 4 partially-filled tail sequences per language
    instead of 1.

    The shard expression here is ``pmod(doc_id, 4)`` (not the operator's
    default murmur3 hash) so DuckDB can replay the exact lane split —
    the cross-engine-checkable instance of the same plan shape. Scale
    deployments keep the default hash shard to decorrelate lanes from
    id-assignment patterns.
    """
    from etl_process_spark.operators.packing import pack_sequences, pack_summary

    docs = tbl(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        "lang",
        F.size(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
        .cast("bigint")
        .alias("n_tokens"),
    )
    assigned = pack_sequences(
        tok, budget=512, shards=4, shard_expr=F.col("doc_id")
    )
    return pack_summary(assigned).select(
        "lang", "shard", "seq_id", "n_docs", "total_tokens"
    )


def _pii_sql() -> str:
    """Oracle for pii_redaction, composed from the SAME PII_PATTERNS the
    operator uses (single source of truth for the regexes; DuckDB's RE2
    and Spark's Java regex agree on the RE2-safe subset the patterns
    keep to). DuckDB needs the explicit 'g' flag for global replace."""
    from etl_process_spark.operators.text import PII_PATTERNS

    aug = (
        "SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN text"
        " || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com'"
        " || ' or 555-123-4567 at 10.0.0.' || CAST(doc_id % 256 AS VARCHAR)"
        " ELSE text END AS t FROM documents"
    )
    clean = "t"
    counts = []
    for pat, repl in PII_PATTERNS:
        # DuckDB '...' literals take backslashes verbatim — no doubling
        lit = pat.replace("'", "''")
        # count BEFORE this pattern's own replacement, AFTER the earlier
        # ones — same sequential semantics as pii_match_count (an email's
        # digits must not re-count as a phone)
        counts.append(f"len(regexp_extract_all({clean}, '{lit}'))")
        clean = f"regexp_replace({clean}, '{lit}', '{repl}', 'g')"
    return (
        f"WITH aug AS ({aug}) SELECT doc_id, md5({clean}) AS clean_fp, "
        f"CAST({' + '.join(counts)} AS BIGINT) AS n_pii FROM aug"
    )


@query("pii_redaction", _pii_sql())
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (operators/text.py::redact_pii): email/phone/IPv4 shapes
    → typed placeholders, plus the per-doc match count that drives
    per-source PII-density policy.

    The synthetic corpus carries no organic PII, so every 7th document
    is deterministically augmented with one email+phone+IP clause before
    scrubbing — both engines inject the identical text, so the oracle
    exercises real matches, not just no-ops. Output carries md5 of the
    redacted text (small, order-insensitive, still pins every byte of
    the redaction). Pure per-row regexp chain — zero shuffle at any
    corpus size.
    """
    from etl_process_spark.operators.text import pii_match_count, redact_pii

    docs = tbl(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"), F.col("doc_id").cast("string"),
                F.lit("@mail.example.com or 555-123-4567 at 10.0.0."),
                (F.col("doc_id") % 256).cast("string"),
            ),
        ).otherwise(F.col("text")).alias("t"),
    )
    return aug.select(
        "doc_id",
        F.md5(redact_pii("t")).alias("clean_fp"),
        pii_match_count("t").cast("bigint").alias("n_pii"),
    )


@query(
    "mixture_resampled_docs",
    """
    WITH w AS (
      SELECT doc_id, lang,
             CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 2.25 ELSE 1.0 END AS wt,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) AS g
      FROM documents),
    n AS (
      SELECT doc_id, lang,
             CAST(floor(wt) AS BIGINT)
             + CASE WHEN g < CAST((wt - floor(wt)) * 65536 AS BIGINT)
                    THEN 1 ELSE 0 END AS nc
      FROM w)
    SELECT doc_id, lang, CAST(u.c AS INT) AS copy_id
    FROM n, unnest(generate_series(1, nc)) AS u(c)
    """,
)
def mixture_resampled_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-style mixture reweighting
    (operators/sampling.py::resample_weighted): English down-weighted to
    0.5, German up-weighted to 2.25 (every row twice, a gated quarter a
    third time), other languages untouched — the epoch-multiplier
    operator of a data-mixture recipe.

    The replica decision reuses the samplers' md5 gate, so DuckDB
    replays the exact copy set; weights are binary-exact fractions
    (.5/.25) so the fractional threshold computes identically in both
    engines. Map-side only: literal weight table, bounded explode, zero
    shuffle at any corpus size.
    """
    from etl_process_spark.operators.sampling import resample_weighted

    docs = tbl(spark, sf_dir, "documents").select("doc_id", "lang")
    return resample_weighted(
        docs, "lang", "doc_id", {"en": 0.5, "de": 2.25}
    ).select("doc_id", "lang", "copy_id")


@query(
    "balanced_lang_sample",
    """
    WITH counts AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
         cap AS (SELECT min(n) AS cap FROM counts)
    SELECT d.doc_id, d.lang
    FROM documents d JOIN counts c ON d.lang = c.lang CROSS JOIN cap
    WHERE CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
            * c.n
          < cap.cap * 65536
    """,
)
def balanced_lang_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic balanced mixture: downsample every language to
    (approximately) the smallest language's size via a pure md5 gate —
    ``operators/sampling.py::balanced_sample``.

    ``df.sample()`` would be wrong here at scale: RNG draws differ
    across engines AND across task retries (a re-executed partition
    resamples), so the training set would not be re-derivable. The hash
    gate makes membership a pure function of the row id: bit-identical
    on any engine (the oracle replays it exactly), stable under
    retries, and append-stable (a kept doc stays kept as the corpus
    grows). The keep test multiplies BIGINTs instead of comparing a
    float rate, so no rounding boundary exists to diverge on. One tiny
    per-lang count aggregate broadcasts back; the corpus is scanned
    once, filtered map-side.
    """
    from etl_process_spark.operators.sampling import balanced_sample

    docs = tbl(spark, sf_dir, "documents").select("doc_id", "lang")
    return balanced_sample(docs, "lang", "doc_id").select("doc_id", "lang")


@query(
    "packed_sequence_texts",
    f"""
    WITH tok AS (
      SELECT doc_id, lang, text, CAST(len({_TOKS}) AS BIGINT) AS n_tokens
      FROM documents),
    placed AS (
      SELECT lang, doc_id % 4 AS shard, doc_id, text, n_tokens,
             sum(n_tokens) OVER (PARTITION BY lang, doc_id % 4 ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum
      FROM tok)
    SELECT lang, CAST(shard AS BIGINT) AS shard,
           CAST((cum - n_tokens) // 512 AS BIGINT) AS seq_id,
           md5(string_agg(text, ' <|doc|> ' ORDER BY doc_id)) AS seq_fp,
           CAST(count(*) AS INT) AS n_docs
    FROM placed
    GROUP BY lang, shard, (cum - n_tokens) // 512
    """,
)
def packed_sequence_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The packed training shard itself: each (lang, shard, seq)
    sequence's documents concatenated in doc_id order with a separator
    token (operators/packing.py::pack_texts) — what actually gets
    written for the trainer, not just the assignment bookkeeping.

    Within-sequence order is pinned by sorting (doc_id, text) pairs
    inside the aggregation, so the concatenation is deterministic under
    any partitioning; the oracle compares md5 of each sequence string
    (pins every byte, keeps the diff rows small). One budget-bounded
    groupBy after the packing window — group size ≈ the token budget.
    """
    from etl_process_spark.operators.packing import pack_sequences, pack_texts

    docs = tbl(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", "text",
        F.size(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
        .cast("bigint")
        .alias("n_tokens"),
    )
    assigned = pack_sequences(
        tok, budget=512, shards=4, shard_expr=F.col("doc_id")
    )
    return pack_texts(assigned).select(
        "lang", "shard", "seq_id",
        F.md5("seq_text").alias("seq_fp"),
        "n_docs",
    )


@query(
    "doc_oov_rate",
    f"""
    WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS t FROM documents),
    vocab AS (
      SELECT t FROM tok GROUP BY t
      ORDER BY count(*) DESC, t LIMIT 50),
    scored AS (
      SELECT tok.doc_id,
             count(*) AS n_tokens,
             CAST(sum(CASE WHEN vocab.t IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_oov
      FROM tok LEFT JOIN vocab ON tok.t = vocab.t
      GROUP BY tok.doc_id)
    SELECT doc_id, n_tokens, n_oov,
           CAST((1000000 * n_oov) // n_tokens AS BIGINT) AS oov_ppm
    FROM scored
    """,
)
def doc_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per document against the corpus's own top-50
    token vocabulary — the coverage check run before committing to a
    tokenizer or filtering a crawl against a reference lexicon.

    Two phases sharing one token explode: (1) vocabulary = top-k token
    counts — map-combined partials into one token-keyed shuffle, top-50
    via TakeOrdered with (count DESC, token) tie-break so the vocabulary
    boundary is engine-exact; (2) the tiny vocab broadcasts back onto the
    exploded tokens (a map-side hash probe — the corpus is never
    re-shuffled for membership), and the per-doc aggregate groups on
    doc_id. The OOV fraction is exact integer parts-per-million
    (``div`` ≡ ``//``) — no round(DOUBLE) at the output boundary.
    """
    docs = tbl(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("t"),
    )
    vocab = (
        tok.groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("t"))
        .limit(50)
        .select("t", F.lit(True).alias("in_vocab"))
    )
    return (
        tok.join(F.broadcast(vocab), on="t", how="left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias("n_oov"),
        )
        .select(
            "doc_id", "n_tokens", "n_oov",
            F.expr("(1000000 * n_oov) div n_tokens").alias("oov_ppm"),
        )
    )


@query(
    "ivf_search_topk",
    """
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    qn AS (SELECT sqrt(list_sum([qe[i]::DOUBLE * qe[i]::DOUBLE
                                 for i in range(1, len(qe)+1)])) AS qnorm FROM q),
    cent AS (
      SELECT label AS cell, i, CAST(sum(CAST(floor(embedding[i]::DOUBLE * 1000000) AS BIGINT))
                  AS DOUBLE) / (count(*) * 1000000.0) AS c
      FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS i) s
      GROUP BY label, i
    ),
    cellsim AS (
      SELECT cell,
             CAST(floor(sum(c * qe[i]::DOUBLE)
                        / (sqrt(sum(c * c)) * any_value(qnorm))
                        * 1000000) AS BIGINT) AS csim
      FROM cent, q, qn
      GROUP BY cell
    ),
    probe AS (SELECT cell FROM cellsim ORDER BY csim DESC, cell LIMIT 6)
    SELECT vec_id,
           CAST(floor(
             list_sum([embedding[i]::DOUBLE * qe[i]::DOUBLE
                       for i in range(1, len(embedding)+1)])
             / (sqrt(list_sum([embedding[i]::DOUBLE * embedding[i]::DOUBLE
                               for i in range(1, len(embedding)+1)]))
                * any_value(qnorm)) * 1000000) AS BIGINT) AS cos_sim_e6
    FROM embeddings e JOIN probe p ON e.label = p.cell, q, qn
    GROUP BY vec_id, embedding, qe
    ORDER BY cos_sim_e6 DESC, vec_id
    LIMIT 10
    """,
)
def ivf_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full IVF search against vec_id=0: probe the 6 nearest-centroid
    cells, brute-force only their members (operators/similarity.py::
    ivf_search — the scan-fraction-vs-recall dial of inverted-file ANN;
    recall quality asserted separately in tests/test_similarity.py)."""
    emb = tbl(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    return sim.ivf_search(emb, qv, k=10, nprobe=6)


@query(
    "knn_join_probed",
    """
    WITH qs AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
                WHERE vec_id IN (0, 1, 2, 3, 4)),
    qn AS (SELECT qid, sqrt(list_sum([qe[i]::DOUBLE * qe[i]::DOUBLE
                                      for i in range(1, len(qe)+1)])) AS qnorm
           FROM qs),
    cent AS (
      SELECT label AS cell, i, CAST(sum(CAST(floor(embedding[i]::DOUBLE * 1000000) AS BIGINT))
                  AS DOUBLE) / (count(*) * 1000000.0) AS c
      FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS i) s
      GROUP BY label, i
    ),
    cellsim AS (
      SELECT qs.qid, cent.cell,
             CAST(floor(sum(cent.c * qs.qe[cent.i]::DOUBLE)
                        / (sqrt(sum(cent.c * cent.c)) * any_value(qn.qnorm))
                        * 1000000) AS BIGINT) AS csim
      FROM cent CROSS JOIN qs JOIN qn ON qn.qid = qs.qid
      GROUP BY qs.qid, cent.cell
    ),
    probe AS (
      SELECT qid, cell FROM (
        SELECT qid, cell,
               row_number() OVER (PARTITION BY qid ORDER BY csim DESC, cell) AS crn
        FROM cellsim) WHERE crn <= 6
    ),
    scored AS (
      SELECT p.qid, e.vec_id,
             CAST(floor(
               list_sum([e.embedding[i]::DOUBLE * qs.qe[i]::DOUBLE
                         for i in range(1, len(e.embedding)+1)])
               / (sqrt(list_sum([e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE
                                 for i in range(1, len(e.embedding)+1)]))
                  * qn.qnorm) * 1000000) AS BIGINT) AS cos_sim_e6
      FROM embeddings e JOIN probe p ON e.label = p.cell
           JOIN qs ON qs.qid = p.qid JOIN qn ON qn.qid = p.qid
    )
    SELECT qid, vec_id, cos_sim_e6, CAST(rn AS INT) AS rn FROM (
      SELECT qid, vec_id, cos_sim_e6,
             row_number() OVER (PARTITION BY qid
                                ORDER BY cos_sim_e6 DESC, vec_id) AS rn
      FROM scored) WHERE rn <= 5
    """,
)
def knn_join_probed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched ANN retrieval: top-5 neighbors for 5 query vectors in one
    plan, candidates restricted to each query's 6 nearest-centroid cells
    (operators/similarity.py::knn_join). The corpus is probed through an
    equi join on the cell id — never cross-joined against the query
    batch — so cost scales with nprobe/ncells, and the per-query rank
    shuffles only scored candidates keyed by qid."""
    emb = tbl(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(0, 1, 2, 3, 4)).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return sim.knn_join(emb, queries, k=5, nprobe=6)


@query(
    "embedding_topk_cosine_int8",
    """
    WITH qz AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(round(x::DOUBLE * 127 / (CASE WHEN amax > 0 THEN amax ELSE 1 END)) AS INT)) AS q
      FROM (SELECT vec_id, embedding,
                   list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS amax
            FROM embeddings)),
    qv AS (SELECT q AS query_q FROM qz WHERE vec_id = 0)
    SELECT vec_id,
           CAST(floor(
             list_sum([ (q[i] * query_q[i])::DOUBLE for i in range(1, len(q)+1) ])
             / (sqrt(list_sum([ (q[i] * q[i])::DOUBLE for i in range(1, len(q)+1) ]))
                * sqrt(list_sum([ (query_q[i] * query_q[i])::DOUBLE
                                  for i in range(1, len(query_q)+1) ])))
             * 1000000) AS BIGINT) AS cos_sim_q_e6
    FROM qz, qv
    ORDER BY cos_sim_q_e6 DESC, vec_id
    LIMIT 10
    """,
)
def embedding_topk_cosine_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 cosine over int8-QUANTIZED vectors (operators/similarity.py::
    quantize_int8 / cosine_quantized) against vec_id=0 — the coarse-rank
    path that scans 4× less data; the per-vector scale cancels in the
    ratio so scoring is integer dot products and norms.

    Oracle-exact because quantization itself is deterministic
    (round-half-away on the same doubles in both engines) and the cosine
    over int components divides exactly representable integer sums.
    """
    emb = tbl(spark, sf_dir, "embeddings")
    qdf = sim.quantize_int8(emb)
    qv = qdf.filter(F.col("vec_id") == 0).select(
        F.col("qvec").alias("query_q"),
        # query norm is constant across scored rows — compute it once on
        # the 1-row broadcast side, not per corpus row
        sim.quantized_norm(F.col("qvec")).alias("qnorm"),
    )
    return (
        qdf.crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            sim.fixed_e6(
                sim.cosine_quantized(
                    F.col("qvec"), F.col("query_q"), b_norm=F.col("qnorm")
                )
            ).alias("cos_sim_q_e6"),
        )
        .orderBy(F.col("cos_sim_q_e6").desc(), F.col("vec_id"))
        .limit(10)
    )


@query(
    "leakage_safe_split",
    f"""
    WITH RECURSIVE sh AS ({_SHINGLES}),
         sig AS ({_SIGS}),
         bands AS ({_BANDS}),
         pairs AS (
           SELECT DISTINCT a.doc_id AS pa, b.doc_id AS pb
           FROM bands a
           JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
                       AND a.doc_id < b.doc_id
         ),
         edges AS (
           SELECT pa AS ea, pb AS eb FROM pairs
           UNION
           SELECT pb, pa FROM pairs
         ),
         reach(n, m) AS (
           SELECT ea, eb FROM edges
           UNION
           SELECT r.n, e.eb FROM reach r JOIN edges e ON r.m = e.ea
         ),
         cc AS (SELECT n AS doc_id, least(n, min(m)) AS cluster_id
                FROM reach GROUP BY n)
    SELECT d.doc_id,
           coalesce(cc.cluster_id, d.doc_id) AS cluster_id,
           CASE WHEN substring(md5(CAST(coalesce(cc.cluster_id, d.doc_id) AS VARCHAR)), 1, 1) <= '3'
                THEN 'test' ELSE 'train' END AS split
    FROM documents d LEFT JOIN cc ON cc.doc_id = d.doc_id
    """,
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/test split: near-duplicate documents must land
    on the SAME side, or the test set leaks into training through
    paraphrases — so the split unit is the near-dup CLUSTER, not the
    document.

    Composition of three engine operators: LSH candidate pairs →
    connected components (cluster id = min doc in the component;
    singletons are their own cluster) → deterministic md5 hash gate on
    the CLUSTER id (¼ test). Hashing the cluster id rather than the doc
    id is the entire point — every member inherits the same draw. Same
    scale shape as neardup_clusters plus one map-side gate.
    """
    from etl_process_spark.operators.dedup import lsh_candidate_pairs
    from etl_process_spark.operators.graph import connected_components

    docs = tbl(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(docs, "text", "doc_id")
    cc = connected_components(pairs, src="doc_a", dst="doc_b").select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )
    assigned = docs.select("doc_id").join(cc, on="doc_id", how="left").select(
        "doc_id",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
    )
    gate = F.substring(F.md5(F.col("cluster_id").cast("string")), 1, 1)
    return assigned.withColumn(
        "split", F.when(gate <= "3", "test").otherwise("train")
    )


# ---------------------------------------------------------------------------
# Corpus-level boilerplate detection + training-batch layout
# ---------------------------------------------------------------------------

@query(
    "boilerplate_trigram_coverage",
    f"""
    WITH sh AS ({_SHINGLES}),
    g AS (SELECT doc_id, unnest(s) AS gram FROM sh),
    dfq AS (SELECT gram, count(*) AS df FROM g GROUP BY 1),
    b AS (SELECT gram FROM dfq WHERE df >= 5)
    SELECT g.doc_id,
           count(*) AS n_grams,
           count(b.gram) AS n_boiler,
           CAST((1000000 * count(b.gram)) // count(*) AS BIGINT) AS boiler_ppm,
           4 * count(b.gram) <= count(*) AS keep
    FROM g LEFT JOIN b ON g.gram = b.gram
    GROUP BY 1
    """,
)
def boilerplate_trigram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus boilerplate filter: per-doc coverage by trigrams that
    occur in >= 5 distinct documents (headers/footers/navigation chrome in
    a real crawl).

    Unlike ``doc_repetition_ratio`` (WITHIN-doc repetition), the signal
    here is CORPUS-level document frequency, so it needs a global gram ->
    df aggregate joined back onto the per-doc gram stream. Both the df
    aggregate and the join-back shuffle on the gram key — the corpus text
    itself never reshuffles, only (doc_id, gram) pairs, and the same
    gram-keyed exchange serves both steps. No threshold on total corpus
    size is smuggled in driver-side: everything is one lazy plan.
    """
    docs = tbl(spark, sf_dir, "documents")
    g = docs.select(
        "doc_id",
        F.explode(F.array_distinct(dd.shingles(F.col("text"), 3))).alias("gram"),
    )
    boiler = (
        g.groupBy("gram").agg(F.count("*").alias("df"))
        .where(F.col("df") >= 5)
        .select("gram", F.lit(1).alias("is_b"))
    )
    return (
        g.join(boiler, "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.count("is_b").alias("n_boiler"),
            F.expr("(1000000 * count(is_b)) div count(*)").alias("boiler_ppm"),
            (4 * F.count("is_b") <= F.count("*")).alias("keep"),
        )
    )


@query(
    "length_bucketed_batches",
    f"""
    WITH d AS (SELECT doc_id, len({_TOKS}) AS n FROM documents),
    r AS (SELECT doc_id, n, n // 32 AS bucket,
                 row_number() OVER (PARTITION BY n // 32 ORDER BY doc_id) AS rn
          FROM d)
    SELECT bucket, (rn - 1) // 8 AS batch_id,
           count(*) AS n_docs,
           min(n) AS min_tokens, max(n) AS max_tokens,
           CAST(count(*) * max(n) - sum(n) AS BIGINT) AS padding_tokens
    FROM r GROUP BY 1, 2
    """,
)
def length_bucketed_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length bucketing for training-batch efficiency: group docs
    into 32-token length buckets, fill 8-doc batches inside each bucket,
    and account the padding waste (docs padded to their batch max).

    Batching like-length sequences together is how a trainer avoids
    padding short docs to the global max. ``padding_tokens`` =
    ``n_docs*max - sum(n)`` per batch quantifies what the layout saves.
    One shuffle keyed on the bucket; the row_number fill is deterministic
    (doc_id order). At 100 TB a single bucket is one reducer — the
    sharded-window pattern from ``operators/packing.py`` (partition by
    ``(bucket, pmod(hash(doc_id), k))``) removes that ceiling with
    identical per-shard semantics; this query pins the k=1 contract the
    oracle can express.
    """
    docs = tbl(spark, sf_dir, "documents")
    d = docs.select("doc_id", F.size(tx.tokens(F.col("text"))).alias("n"))
    d = d.withColumn("bucket", F.floor(F.col("n") / 32))
    w = Window.partitionBy("bucket").orderBy("doc_id")
    r = d.withColumn("rn", F.row_number().over(w))
    return (
        r.groupBy("bucket", F.floor((F.col("rn") - 1) / 8).alias("batch_id"))
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n").alias("min_tokens"),
            F.max("n").alias("max_tokens"),
            (F.count("*") * F.max("n") - F.sum("n")).alias("padding_tokens"),
        )
    )


_BM25_TERMS = ("spark", "join", "window")


_BM25_TOPK_SQL = f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    d AS (SELECT doc_id, len(toks) AS dl, toks FROM t),
    stats AS (SELECT count(*) AS n, avg(len(toks)) AS avgdl FROM t),
    tok AS (SELECT doc_id, dl, unnest(toks) AS token FROM d),
    tf AS (SELECT doc_id, any_value(dl) AS dl, token, count(*) AS tf
           FROM tok WHERE token IN ('spark', 'join', 'window')
           GROUP BY doc_id, token),
    dfreq AS (SELECT token, count(*) AS dfr FROM tf GROUP BY 1),
    sc AS (SELECT tf.doc_id,
                  sum(CAST(floor(ln(1 + (s.n - df.dfr + 0.5) / (df.dfr + 0.5))
                      * tf.tf * 2.2
                      / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl))
                      * 1000000000) AS BIGINT))
                    AS score_e9
           FROM tf JOIN dfreq df ON tf.token = df.token CROSS JOIN stats s
           GROUP BY 1)
    SELECT doc_id, CAST(score_e9 // 1000 AS BIGINT) AS bm25_e6
    FROM sc ORDER BY bm25_e6 DESC, doc_id LIMIT 20
    """


@query("bm25_search_topk", _BM25_TOPK_SQL)
def bm25_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (k1=1.2, b=0.75) for the query
    ['spark', 'join', 'window'], top-20 docs.

    The keyword-search primitive of a corpus-curation stack. Data flow:
    explode tokens -> keep only query terms (the explode shrinks to
    |terms| x docs BEFORE any shuffle) -> per-(doc, term) tf ->
    per-term document frequency (3-row broadcast) -> scalar (N, avgdl)
    broadcast -> per-doc score sum -> TakeOrdered top-20. The corpus
    text is scanned twice (stats + tf) but never shuffled; everything
    shuffled is (doc, term) pairs for matched terms only. Scores are
    rounded to 6 decimals with doc_id tie-break in BOTH engines, so the
    cut is reproducible.
    """
    docs = tbl(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tx.tokens(F.col("text")).alias("toks"))
    stats = toks.agg(
        F.count("*").alias("n"), F.avg(F.size("toks")).alias("avgdl")
    )
    tf = (
        toks.select(
            "doc_id", F.size("toks").alias("dl"),
            F.explode("toks").alias("token"),
        )
        .where(F.col("token").isin(*_BM25_TERMS))
        .groupBy("doc_id", "token")
        .agg(F.any_value("dl").alias("dl"), F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(F.count("*").alias("dfr"))
    idf = F.log(1 + (F.col("n") - F.col("dfr") + 0.5) / (F.col("dfr") + 0.5))
    w = idf * F.col("tf") * 2.2 / (
        F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl"))
    )
    # per-term weights quantize to exact 1e-9 BIGINTs BEFORE the per-doc
    # sum: integer addition is order-independent, so neither engine's
    # aggregation order (nor Spark's partitioning) can move the score
    w_e9 = F.floor(w * F.lit(1e9)).cast("long")
    return (
        tf.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", w_e9.alias("w_e9"))
        .groupBy("doc_id")
        .agg(F.expr("sum(w_e9) div 1000").alias("bm25_e6"))
        .orderBy(F.col("bm25_e6").desc(), "doc_id")
        .limit(20)
    )


@query(
    "duplicate_chunk_docs",
    f"""
    WITH tok AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    c AS (SELECT doc_id, md5(array_to_string(t[s:s+31], ' ')) AS fp
          FROM tok, unnest(generate_series(1, len(t), 24)) AS u(s)
          WHERE len(t[s:s+31]) = 32),
    shared AS (SELECT fp FROM c GROUP BY fp
               HAVING count(DISTINCT doc_id) >= 2)
    SELECT c.doc_id,
           count(*) AS n_chunks,
           count(s.fp) AS n_dup_chunks,
           CAST((1000000 * count(s.fp)) // count(*) AS BIGINT) AS dup_ppm
    FROM c LEFT JOIN shared s ON c.fp = s.fp
    GROUP BY 1
    """,
)
def duplicate_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-granularity duplication: per doc, the fraction of its
    full-width 32-token chunks (stride 24, the ``doc_token_chunks``
    contract) that also appear verbatim in ANOTHER document.

    The scalable approximation of suffix-array substring dedup (Lee et
    al. 2022 find exact ~50-token spans repeated across web corpora;
    a suffix array is not a distributed-friendly structure, strided
    chunk fingerprints are). Data flow: map-side chunking (zero
    shuffle, bounded fan-out) → md5 fingerprints so the shuffle
    carries 16-byte digests, never chunk text → fp-keyed df aggregate
    with a >=2-distinct-docs gate → join-back on the same fp-keyed
    exchange. Docs heavy in shared spans are the boilerplate/mirror
    candidates exact-doc dedup misses.
    """
    docs = tbl(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("t")
    )
    c = (
        toks.select(
            "doc_id",
            "t",
            F.explode(F.sequence(F.lit(1), F.size("t"), F.lit(24))).alias("s"),
        )
        .where(F.expr("size(slice(t, s, 32))") == 32)
        .select(
            "doc_id",
            F.md5(F.concat_ws(" ", F.expr("slice(t, s, 32)"))).alias("fp"),
        )
    )
    shared = (
        c.groupBy("fp")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("fp", F.lit(1).alias("is_shared"))
    )
    return (
        c.join(shared, "fp", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.count("is_shared").alias("n_dup_chunks"),
            F.expr("(1000000 * count(is_shared)) div count(*)").alias("dup_ppm"),
        )
    )


# Two Lloyd rounds (lowest-id init, lower-cluster tie-break) as DuckDB
# CTEs — shared by the kmeans stats query and SemDeDup pruning.
def _kmeans_ctes(pred: str = "TRUE") -> str:
    return f"""
    v AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v
          FROM embeddings WHERE {pred}),
    c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster, v AS c
           FROM (SELECT * FROM v ORDER BY vec_id LIMIT 4)),
    a1 AS (SELECT vec_id, v, cluster FROM (
        SELECT e.vec_id, e.v, c.cluster,
               row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_distance(e.v, c.c), c.cluster) AS rn
        FROM v e CROSS JOIN c0 c) WHERE rn = 1),
    c1 AS (SELECT cluster, list(m ORDER BY dim) AS c FROM (
        SELECT cluster, dim,
               CAST(sum(CAST(floor(val * 1000000) AS BIGINT)) AS DOUBLE)
                 / (count(*) * 1000000.0) AS m FROM (
          SELECT cluster, unnest(v) AS val, generate_subscripts(v, 1) AS dim
          FROM a1)
        GROUP BY 1, 2) GROUP BY 1),
    a2 AS (SELECT vec_id, cluster FROM (
        SELECT e.vec_id, c.cluster,
               row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_distance(e.v, c.c), c.cluster) AS rn
        FROM v e CROSS JOIN c1 c) WHERE rn = 1)
"""


_KMEANS_CTES = _kmeans_ctes()


@query(
    "kmeans_embedding_clusters",
    f"""
    WITH {_KMEANS_CTES}
    SELECT a2.cluster, count(*) AS n_vecs,
           CAST(floor(sqrt(list_inner_product(any_value(c1.c), any_value(c1.c)))
                      * 1000000) AS BIGINT) AS centroid_norm_e6
    FROM a2 JOIN c1 ON a2.cluster = c1.cluster
    GROUP BY 1
    """,
)
def kmeans_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd k-means (k=4, two assignment passes, deterministic
    lowest-id init) over the embedding corpus — cluster sizes and the
    norms of the refined centroids.

    The clustering step of SemDeDup-style semantic pruning and the
    trained coarse quantizer for IVF. `operators/similarity.py::
    kmeans_lloyd` keeps assignment a pure map stage (k centroids packed
    into one broadcast row, in-row argmin over (dist², cluster)
    structs) and the update a centroid-sized (cluster, dim) partial
    agg; the oracle replays both rounds with DuckDB's list_distance —
    sqrt is monotone, so its ranking equals the engine's dist² ranking,
    and equidistant ties break to the lower cluster id in both.
    """
    emb = tbl(spark, sf_dir, "embeddings")
    assigned, cents = sim.kmeans_lloyd(emb, "embedding", "vec_id", k=4, rounds=2)
    counts = assigned.groupBy("cluster").agg(F.count("*").alias("n_vecs"))
    norms = cents.select(
        "cluster",
        sim.fixed_e6(
            F.sqrt(
                F.aggregate(
                    F.zip_with(F.col("c"), F.col("c"), lambda x, y: x * y),
                    F.lit(0.0),
                    lambda a, x: a + x,
                )
            )
        ).alias("centroid_norm_e6"),
    )
    return counts.join(F.broadcast(norms), "cluster")


@query(
    "semantic_dedup_keep",
    f"""
    WITH {_KMEANS_CTES},
    n AS (SELECT a2.vec_id, a2.cluster, v.v,
                 sqrt(list_inner_product(v.v, v.v)) AS nrm
          FROM a2 JOIN v ON a2.vec_id = v.vec_id),
    drops AS (
      SELECT DISTINCT b.vec_id
      FROM n a JOIN n b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      WHERE floor(list_inner_product(a.v, b.v) / (a.nrm * b.nrm) * 1000000)
              >= 400000)
    SELECT n.vec_id, n.cluster, d.vec_id IS NULL AS keep
    FROM n LEFT JOIN drops d ON n.vec_id = d.vec_id
    """,
)
def semantic_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means the embedding space, then
    drop any vector with a lower-id cluster-mate at cosine ≥ 0.4 —
    semantic near-duplicate pruning at cluster scope.

    The clustering is what makes this 100 TB-shaped: pairwise cosine is
    only computed WITHIN a cluster (equi-join on the cluster id), and in
    production k grows with the corpus so cluster sizes stay bounded —
    the quadratic term is (corpus/k)² per cluster, a constant, never
    corpus². Assignment itself is the map-side ``kmeans_lloyd`` pass;
    the keeper rule (smallest id survives) and the round-6 cosine
    threshold are pinned identically in the oracle's replay.
    """
    emb = tbl(spark, sf_dir, "embeddings")
    assigned, _ = sim.kmeans_lloyd(emb, "embedding", "vec_id", k=4, rounds=2)
    n = assigned.withColumnRenamed("vid", "vec_id").join(
        emb.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        ),
        "vec_id",
    )
    # norm once per ROW (exactly the oracle's n CTE), and a static-dim
    # dot so the per-pair predicate stays inside whole-stage codegen:
    # the previous form recomputed both norms per PAIR through the
    # interpreted ArrayAggregate fold — ~30 min in a single skewed-
    # cluster task at the 10x replica, ~20x cheaper unrolled. Same IEEE
    # operation order (left-associated fold from 0.0), so the floored
    # e6 boundary is bit-identical.
    n = n.withColumn("nrm", sim.norm(F.col("v"), dim=sim.EMBED_DIM))
    a, b = n.alias("a"), n.alias("b")
    drops = (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .where(
            sim.fixed_e6(
                sim.dot(F.col("a.v"), F.col("b.v"), dim=sim.EMBED_DIM)
                / (F.col("a.nrm") * F.col("b.nrm"))
            ) >= 400000
        )
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
        .withColumn("dropped", F.lit(1))
    )
    return n.join(drops, "vec_id", "left").select(
        "vec_id", "cluster", F.col("dropped").isNull().alias("keep")
    )


# Fixed-point quality logit (features at 1e6 units, weights as exact
# rationals at 1e8) shared by the scorer and cluster-canonical selection.
_QUALITY_Z_CTES = f"""
    qf AS (
      SELECT doc_id,
             len(toks) AS n_tokens,
             CAST((1000000 * list_sum([length(t) for t in toks]))
                  // len(toks) AS BIGINT) AS avg_u,
             CAST((1000000 * len(list_filter(toks,
                     t -> t IN ('the','a','of','and','is'))))
                  // len(toks) AS BIGINT) AS stop_u,
             CAST((1000000 * len(list_distinct(toks)))
                  // len(toks) AS BIGINT) AS lex_u
      FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)),
    qz AS (
      SELECT doc_id,
             -200000000 + 1000000 * n_tokens + 30 * avg_u
                        + 300 * stop_u + 150 * lex_u AS z_units
      FROM qf)
"""


def _quality_z_units(docs: DataFrame) -> DataFrame:
    """(doc_id, z_units) — the exact-BIGINT logit of quality_logit_score."""
    t = tx.tokens(F.col("text"))
    n = F.size(t).cast("bigint")

    def units(num):
        # exact integer division — the same (1000000 * X) // n the
        # oracle computes; both engines truncate toward zero
        x = F.lit(1000000).cast("bigint") * num.cast("bigint")
        return ((x - x % n) / n).cast("bigint")

    avg_u = units(F.aggregate(t, F.lit(0), lambda a, x: a + F.length(x)))
    stop_u = units(
        F.size(F.filter(t, lambda x: x.isin("the", "a", "of", "and", "is"))))
    lex_u = units(F.size(F.array_distinct(t)))
    z_units = (
        F.lit(-200000000).cast("bigint")
        + 1000000 * n.cast("bigint")
        + 30 * avg_u + 300 * stop_u + 150 * lex_u
    )
    return docs.select("doc_id", z_units.alias("z_units"))


@query(
    "quality_logit_score",
    f"""
    WITH {_QUALITY_Z_CTES}
    SELECT doc_id, z_units AS logit_units,
           z_units >= 0 AS keep
    FROM qz
    """,
)
def quality_logit_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering: a fixed-weight logistic scorer over
    handcrafted features (token count, mean token length, stopword
    ratio, lexical diversity) — the CCNet/fastText-classifier SHAPE of
    web-corpus curation with public placeholder weights, so the scoring
    plumbing is real and oracle-checkable while trained weights remain a
    drop-in.

    Pure per-row expressions end to end: zero shuffles at any corpus
    size, whole-stage codegen, no UDF. The linear term is computed in
    fixed-point BIGINT units (features quantized by exact integer
    division at 1e6, weights as exact rationals at 1e8) — a float logit
    built from rounded features lands on .5 boundaries where JVM and
    DuckDB round() disagree at ulp level (3/500 docs in practice),
    while the integer logit is bit-exact in every engine. The sigmoid
    is a monotone display transform of the logit, so it is not emitted
    (exp is libm/engine-build-sensitive).
    """
    docs = tbl(spark, sf_dir, "documents")
    q = _quality_z_units(docs)
    z = F.col("z_units")
    # the sigmoid is a monotone display transform of logit_units and
    # exponentiates through libm (engine-build-sensitive); the exact
    # integer logit carries all the information, so only it is emitted
    return q.select("doc_id", z.alias("logit_units"), (z >= 0).alias("keep"))


@query(
    "unigram_logprob_score",
    f"""
    WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS token FROM documents),
    vocab AS (SELECT token, count(*) AS c FROM tok GROUP BY 1),
    tot AS (SELECT sum(c) AS n, count(*) AS v FROM vocab),
    lm AS (SELECT token,
                  CAST(floor(-ln((c + 1.0) / (tt.n + tt.v)) * 1000000000)
                       AS BIGINT) AS nll_n9
           FROM vocab CROSS JOIN tot tt),
    scored AS (
      SELECT t.doc_id,
             count(*) AS n_tokens,
             CAST(sum(lm.nll_n9) AS BIGINT) AS nll_n9
      FROM tok t JOIN lm ON t.token = lm.token
      GROUP BY 1)
    SELECT doc_id, n_tokens, nll_n9,
           CAST(nll_n9 // n_tokens AS BIGINT) AS avg_nll_n9
    FROM scored
    """,
)
def unigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model perplexity scoring (CCNet-style quality filter)
    with a corpus-trained add-one-smoothed unigram LM: per-doc mean
    negative log-likelihood and perplexity.

    The LM "training" is one token-keyed count aggregate; scoring
    broadcasts the vocab back onto the token stream (same shape as
    ``doc_oov_rate`` — the corpus text itself is never reshuffled, only
    (doc, token) pairs move, and the vocab side is |V|-sized). With a
    real KenLM the per-token lookup becomes an Arrow-batched UDF; the
    unigram case keeps the whole filter inside codegen.

    Numeric contract: each vocab entry's −ln(p) quantizes ONCE to
    nano-nat BIGINT units at the |V|-sized LM table, so the per-doc
    total is an exact integer sum (order-independent — a raw double
    Σ −ln(p) depends on partition merge order) and the mean is one
    exact integer division. Perplexity (exp of the mean) is a monotone
    display transform and is not emitted — libm exp differs per engine
    build.
    """
    docs = tbl(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(tx.tokens(F.col("text"))).alias("token")
    )
    vocab = tok.groupBy("token").agg(F.count("*").alias("c"))
    tot = vocab.agg(
        F.sum("c").alias("n"), F.count("*").alias("v")
    )
    lm = vocab.crossJoin(F.broadcast(tot)).select(
        "token",
        F.floor(
            -F.log((F.col("c") + 1.0) / (F.col("n") + F.col("v")))
            * 1000000000.0
        ).cast("long").alias("nll_n9"),
    )
    return (
        tok.join(lm, "token")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("nll_n9").alias("nll_n9"),
        )
        .select(
            "doc_id", "n_tokens", "nll_n9",
            F.expr("nll_n9 div n_tokens").alias("avg_nll_n9"),
        )
    )


@query(
    "cluster_canonical_docs",
    f"""
    WITH RECURSIVE sh AS ({_SHINGLES}),
         sig AS ({_SIGS}),
         bands AS ({_BANDS}),
         pairs AS (
           SELECT DISTINCT a.doc_id AS pa, b.doc_id AS pb
           FROM bands a
           JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
                       AND a.doc_id < b.doc_id
         ),
         edges AS (
           SELECT pa AS ea, pb AS eb FROM pairs
           UNION
           SELECT pb, pa FROM pairs
         ),
         reach(n, m) AS (
           SELECT ea, eb FROM edges
           UNION
           SELECT r.n, e.eb FROM reach r JOIN edges e ON r.m = e.ea
         ),
         cc AS (SELECT n AS doc_id, least(n, min(m)) AS cluster_id
                FROM reach GROUP BY n),
         {_QUALITY_Z_CTES.strip()}
    SELECT qz.doc_id,
           coalesce(cc.cluster_id, qz.doc_id) AS cluster_id,
           qz.z_units AS logit_units,
           row_number() OVER (
             PARTITION BY coalesce(cc.cluster_id, qz.doc_id)
             ORDER BY qz.z_units DESC, qz.doc_id) = 1 AS is_canonical
    FROM qz LEFT JOIN cc ON qz.doc_id = cc.doc_id
    """,
)
def cluster_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware keep-one-per-cluster: near-dup clusters (MinHash-LSH
    pairs → connected components) keep their HIGHEST-QUALITY member
    (fixed-point logit, doc_id tie-break), not the arbitrary min-id —
    what a production dedup actually ships, since the canonical copy
    should be the best copy. Singletons are their own cluster.

    Composition of three already-audited stages: LSH candidate pairs
    (band-bucket join, never all-pairs), iterative CC (one shuffle per
    round), and the zero-shuffle quality scorer; the keeper choice adds
    one cluster-keyed window. The exact-BIGINT logit makes the argmax
    tie-free across engines wherever texts differ.
    """
    from etl_process_spark.operators.graph import connected_components

    docs = tbl(spark, sf_dir, "documents")
    pairs = dd.lsh_candidate_pairs(docs, "text", "doc_id",
                                   num_hashes=4, band_size=2, k=3)
    cc = connected_components(pairs, "doc_a", "doc_b").select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )
    q = _quality_z_units(docs)
    full = q.join(cc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
        "z_units",
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("z_units").desc(), F.col("doc_id")
    )
    return full.select(
        "doc_id", "cluster_id",
        F.col("z_units").alias("logit_units"),
        (F.row_number().over(w) == 1).alias("is_canonical"),
    )


@query(
    "bpe_pair_counts",
    f"""
    WITH tok AS (SELECT unnest({_TOKS}) AS t FROM documents),
    pairs AS (
      SELECT substr(t, i, 2) AS pair
      FROM tok, unnest(range(1, len(t))) AS u(i)
      WHERE len(t) >= 2)
    SELECT pair, count(*) AS n
    FROM pairs GROUP BY 1
    ORDER BY n DESC, pair LIMIT 20
    """,
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The count stage of a BPE tokenizer-training round: corpus-wide
    adjacent character-pair frequencies inside whitespace tokens, top 20
    with (count, pair) tie-break.

    A BPE trainer iterates exactly this aggregate — count pairs, merge
    the winner into one symbol, recount — so the distributed cost of
    tokenizer training IS this query's shape: map-side pair explosion
    (bounded fan-out: token length), one partial-agg shuffle carrying
    (pair, count) partials, TakeOrdered for the winner. The merge
    rewrite between rounds is a per-row map; the shuffle never grows.
    """
    docs = tbl(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tx.tokens(F.col("text"))).alias("t"))
    pairs = toks.where(F.length("t") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(t) - 1),"
                " i -> substring(t, i, 2))"
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(20)
    )


@query(
    "mixture_budget_report",
    f"""
    WITH tok AS (
      SELECT lang, CAST(len({_TOKS}) AS BIGINT) AS n
      FROM documents),
    actual AS (SELECT lang, CAST(sum(n) AS BIGINT) AS tokens,
                      count(*) AS docs
               FROM tok GROUP BY 1),
    total AS (SELECT sum(tokens) AS t FROM actual),
    target(lang, ppm) AS (VALUES
      ('en', 500000), ('fr', 200000), ('de', 200000), ('es', 100000))
    SELECT a.lang, a.docs, a.tokens,
           CAST((1000000 * a.tokens) // tt.t AS BIGINT) AS share_ppm,
           CAST(tg.ppm AS BIGINT) AS target_ppm,
           CAST((CAST(tg.ppm AS BIGINT) * tt.t) // a.tokens AS BIGINT)
             AS multiplier_ppm
    FROM actual a JOIN target tg ON a.lang = tg.lang CROSS JOIN total tt
    """,
)
def mixture_budget_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-training mixture accounting: per-language token counts,
    actual corpus share, target share, and the epoch multiplier
    (target/actual) a sampler must apply to hit the target mixture —
    the report that feeds ``resample_weighted``'s weights.

    One token-count aggregate over the corpus (map-side partial sums of
    per-doc token counts — the text never shuffles, only (lang, count)
    partials), a 4-row target table, a 1-row total broadcast.
    """
    docs = tbl(spark, sf_dir, "documents")
    # target mixture as exact ppm integers — the shares are policy
    # rationals, so the multiplier (target/actual) stays in exact
    # BIGINT arithmetic end to end: multiplier_ppm = target_ppm·T / n
    target = spark.createDataFrame(
        [("en", 500000), ("fr", 200000), ("de", 200000), ("es", 100000)],
        "lang string, target_ppm long",
    )
    actual = docs.select(
        "lang", F.size(tx.tokens(F.col("text"))).cast("bigint").alias("n")
    ).groupBy("lang").agg(
        F.sum("n").alias("tokens"), F.count("*").alias("docs")
    )
    total = actual.agg(F.sum("tokens").alias("t"))
    return (
        actual.join(F.broadcast(target), "lang")
        .crossJoin(F.broadcast(total))
        .select(
            "lang", "docs", "tokens",
            F.expr("(1000000 * tokens) div t").alias("share_ppm"),
            "target_ppm",
            F.expr("(target_ppm * t) div tokens").alias("multiplier_ppm"),
        )
    )


_D2_SQL = ("list_sum([(b.v[i] - c.c[i]) * (b.v[i] - c.c[i])"
           " for i in range(1, 65)])")


@query(
    "kmeans_incremental_assign",
    f"""
    WITH {_kmeans_ctes("vec_id % 5 <> 0")},
    batch AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v
              FROM embeddings WHERE vec_id % 5 = 0),
    asg AS (SELECT vec_id, cluster, d2 FROM (
        SELECT b.vec_id, c.cluster, {_D2_SQL} AS d2,
               row_number() OVER (PARTITION BY b.vec_id
                   ORDER BY {_D2_SQL}, c.cluster) AS rn
        FROM batch b CROSS JOIN c1 c) WHERE rn = 1)
    SELECT cluster, count(*) AS n_assigned,
           CAST(sum(CAST(floor(d2 * 1000000) AS BIGINT)) // count(*)
                AS BIGINT) AS avg_d2_e6
    FROM asg GROUP BY 1
    """,
)
def kmeans_incremental_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental clustering: train Lloyd k-means on the corpus
    snapshot (vec_id % 5 != 0), then assign the NEW batch
    (vec_id % 5 == 0) to the frozen centroids — per-cluster batch
    counts and mean squared distance (the drift signal that tells a
    pipeline when to retrain).

    Train-once/assign-forever is how production keeps clustering O(new
    data): the batch assignment is `operators/similarity.py::
    kmeans_assign` — the same packed-broadcast map stage as training
    rounds, no shuffle of the batch, no retraining. The oracle replays
    the squared distance with the identical left-to-right fold, so d2
    and its tie-breaks are bit-equal across engines.
    """
    emb = tbl(spark, sf_dir, "embeddings")
    train = emb.where(F.col("vec_id") % 5 != 0)
    batch = emb.where(F.col("vec_id") % 5 == 0)
    _, cents = sim.kmeans_lloyd(train, "embedding", "vec_id", k=4, rounds=2)
    asg = sim.kmeans_assign(batch, cents, "embedding", "vec_id")
    # quantize each squared distance to e6 BIGINT BEFORE averaging —
    # the sum is then exact integer arithmetic (order-independent),
    # and the mean is one engine-exact integer division
    return asg.groupBy("cluster").agg(
        F.count("*").alias("n_assigned"),
        F.expr(
            "sum(CAST(floor(d2 * 1000000) AS BIGINT)) div count(*)"
        ).alias("avg_d2_e6"),
    )


@query(
    "doc_top_tfidf_terms",
    f"""
    WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS token FROM documents),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
    dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token,
             CAST(floor(tf.tf * ln(n.n * 1.0 / dfq.df) * 1000000) AS BIGINT)
               AS tfidf_e6
      FROM tf JOIN dfq ON tf.token = dfq.token CROSS JOIN n)
    SELECT doc_id, token, tfidf_e6, rnk FROM (
      SELECT doc_id, token, tfidf_e6,
             row_number() OVER (PARTITION BY doc_id
                 ORDER BY tfidf_e6 DESC, token) AS rnk
      FROM scored) WHERE rnk <= 3
    """,
)
def doc_top_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword extraction: each document's top-3 TF-IDF terms.

    The exploration primitive behind corpus topic summaries and search
    snippets. TF is a (doc, token) aggregate, IDF a token-keyed
    aggregate broadcast back, the top-3 a WindowGroupLimit (rank
    filter pushes the limit map-side — no doc's full term list survives
    the sort). Scores cross into ranking as floor(x·10⁶) BIGINTs with a
    token tie-break, so the cut is engine-stable.
    """
    docs = tbl(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(tx.tokens(F.col("text"))).alias("token")
    )
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dfq = tf.groupBy("token").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n"))
    scored = (
        tf.join(F.broadcast(dfq), "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id", "token",
            sim.fixed_e6(F.col("tf") * F.log(F.col("n") / F.col("df")))
            .alias("tfidf_e6"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf_e6").desc(), "token")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
    )


@query(
    "lang_token_fertility",
    f"""
    WITH tok AS (
      SELECT lang, CAST(len({_TOKS}) AS BIGINT) AS n_tokens, n_chars
      FROM documents)
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST((1000000 * sum(n_chars)) // sum(n_tokens) AS BIGINT)
             AS chars_per_token_ppm
    FROM tok GROUP BY lang
    """,
)
def lang_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language: characters per (whitespace)
    token — the standard tokenizer-efficiency audit before committing a
    training mixture (a language whose fertility is 2x pays 2x the
    sequence length for the same content; the per-lang budget in
    ``mixture_budget_report`` is usually corrected by exactly this
    table).

    Pure map-side token counting (the corpus text never shuffles — only
    per-doc integer counts move into a |langs|-row aggregate with
    map-side partials). The ratio divides two exact BIGINTs once, after
    aggregation — deterministic across engines and partitionings.
    """
    docs = tbl(spark, sf_dir, "documents")
    tok = docs.select(
        "lang",
        F.size(tx.tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
        "n_chars",
    )
    return tok.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.expr(
            "(1000000 * sum(n_chars)) div sum(n_tokens)"
        ).alias("chars_per_token_ppm"),
    )


# Hashed-bigram feature bucket shared by the DSIR query and its oracle:
# first 16 md5 bits of the bigram modulo 256 — engine-portable, and the
# importance model's whole feature space is a 256-row table.
_DSIR_BUCKET_SPARK = None  # computed inline below
_DSIR_B = 256


@query(
    "dsir_importance_weights",
    f"""
    WITH words AS (SELECT doc_id, {_TOKS} AS w FROM documents),
    grams AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(w[i+1] || ' ' || w[i+2]), 1, 4))
                  AS BIGINT) % {_DSIR_B} AS bucket
      FROM words, unnest(range(0, len(w)-1)) AS t(i)
      WHERE len(w) >= 2),
    tgt AS (SELECT bucket, count(*) AS ct FROM grams
            WHERE doc_id % 50 = 0 GROUP BY bucket),
    raw AS (SELECT bucket, count(*) AS cr FROM grams
            WHERE doc_id % 50 <> 0 GROUP BY bucket),
    tots AS (SELECT (SELECT sum(ct) FROM tgt) AS nt,
                    (SELECT sum(cr) FROM raw) AS nr),
    ratio AS (
      SELECT b.bucket,
             CAST(floor((ln((coalesce(ct, 0) + 1.0) / (nt + {_DSIR_B}))
                         - ln((coalesce(cr, 0) + 1.0) / (nr + {_DSIR_B})))
                        * 1000000000) AS BIGINT) AS lr_e9
      FROM (SELECT DISTINCT bucket FROM grams) b
      LEFT JOIN tgt USING (bucket) LEFT JOIN raw USING (bucket)
      CROSS JOIN tots),
    perdoc AS (
      SELECT g.doc_id, g.bucket, count(*) AS c
      FROM grams g WHERE g.doc_id % 50 <> 0 GROUP BY 1, 2)
    SELECT p.doc_id, CAST(sum(p.c) AS BIGINT) AS n_grams,
           CAST(sum(p.c * r.lr_e9) // (1000 * sum(p.c)) AS BIGINT)
             AS avg_log_ratio_e6
    FROM perdoc p JOIN ratio r USING (bucket)
    GROUP BY p.doc_id
    """,
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023,
    arXiv:2302.03169): score every raw document by the average
    log-likelihood ratio of its hashed-bigram features under a target
    LM vs a raw LM — the importance weight that upsamples
    target-domain-like documents. Every 50th doc stands in for the
    target corpus (the convention ``eval_decontamination`` uses).

    The scale shape is the point: the corpus is exploded and shuffled
    exactly ONCE, into a (doc, bucket) count table; both "LMs" (256-row
    add-one-smoothed bucket tables over hashed n-gram features, first
    16 md5 bits mod 256) are tiny re-aggregations of it, and scoring
    BROADCASTS the 256-row log-ratio table back onto the same (doc,
    bucket) rows — per-doc sums run over <=256 addends. md5 bucketing
    keeps the feature space engine-portable; log-ratios quantize to
    exact 1e-9 integers before summing, so the per-doc average is pure
    integer arithmetic at the boundary.
    """
    docs = tbl(spark, sf_dir, "documents")
    words = dd.ensure_parallelism(docs).select(
        "doc_id", F.split("text", " ").alias("w")
    ).filter(
        F.size("w") >= 2
    )
    grams = words.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(w)-2),"
                " i -> conv(substring(md5(concat_ws(' ', slice(w, i+1, 2))),"
                " 1, 4), 16, 10))"
            )
        ).alias("g16"),
    ).select(
        "doc_id", (F.col("g16").cast("long") % _DSIR_B).alias("bucket")
    )
    # ONE corpus scan: the (doc, bucket) count table is the only
    # corpus-sized aggregate, and both "LMs" derive from it (target
    # docs' rows sum to the target counts, the rest to the raw counts)
    # — so the text is exploded and shuffled exactly once.
    is_tgt = F.col("doc_id") % 50 == 0
    perdoc_all = checkpoint(grams.groupBy("doc_id", "bucket").agg(
        F.count("*").alias("c")
    ), eager=False)
    sides = perdoc_all.groupBy("bucket").agg(
        F.sum(F.when(is_tgt, F.col("c")).otherwise(0)).alias("ct"),
        F.sum(F.when(~is_tgt, F.col("c")).otherwise(0)).alias("cr"),
    )
    tots = sides.agg(F.sum("ct").alias("nt"), F.sum("cr").alias("nr"))
    # log-ratios quantize to exact 1e-9 BIGINTs before the per-doc
    # weighted sum: integer addition is aggregation-order-independent,
    # and the final average is one integer division — no double (and no
    # engine round()) ever reaches the output boundary
    ratio = sides.crossJoin(F.broadcast(tots)).select(
        "bucket",
        F.floor(
            (
                F.log((F.col("ct") + 1.0) / (F.col("nt") + _DSIR_B))
                - F.log((F.col("cr") + 1.0) / (F.col("nr") + _DSIR_B))
            )
            * F.lit(1e9)
        ).cast("long").alias("lr_e9"),
    )
    perdoc = perdoc_all.where(~is_tgt)
    return (
        perdoc.join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_grams"),
            F.expr("sum(c * lr_e9) div (1000 * sum(c))").alias(
                "avg_log_ratio_e6"
            ),
        )
    )


@query(
    "embedding_dim_stats",
    """
    WITH vals AS (
      SELECT CAST(t.i AS INTEGER) - 1 AS dim,
             CAST(round(CAST(e.embedding[t.i] AS DOUBLE), 6)
                  AS DECIMAL(18,6)) AS x
      FROM embeddings e, unnest(range(1, len(e.embedding) + 1)) AS t(i)),
    agg AS (
      SELECT dim, count(*) AS n, sum(x) AS s,
             sum(CAST(x * x AS DECIMAL(30,12))) AS ss
      FROM vals GROUP BY dim)
    SELECT dim, n,
           CAST(CAST(s * 1000000 AS BIGINT) // n AS BIGINT) AS mean_micro,
           CAST(floor(sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / n)
                      * 1000000) AS BIGINT) AS std_e6
    FROM agg
    """,
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean / population-std of the embedding corpus — the
    statistics a feature-normalization (z-score / whitening) pass
    broadcasts back onto the vectors before indexing or clustering.

    Exactness discipline: float sums are partition-order-dependent, so
    each value is first pinned to DECIMAL(18,6) (6 decimals is already
    beyond float32 resolution for unit-scale values) and both Σx and
    Σx² accumulate as exact decimals — associative, hence identical
    across engines and partitionings; doubles appear only in the final
    per-dim division. One posexplode (map-side) + one 64-row aggregate
    with partial combine: the vectors themselves never shuffle, so the
    pass is a single corpus scan at any scale.
    """
    emb = tbl(spark, sf_dir, "embeddings")
    vals = emb.select(
        F.posexplode("embedding").alias("dim", "v")
    ).select(
        "dim",
        F.round(F.col("v").cast("double"), 6).cast("decimal(18,6)").alias("x"),
    )
    agg = vals.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("s"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(30,12)")).alias("ss"),
    )
    return agg.select(
        F.col("dim").cast("int").alias("dim"),
        "n",
        F.expr("CAST(s * 1000000 AS BIGINT) div n").alias("mean_micro"),
        sim.fixed_e6(
            F.sqrt(
                (
                    F.col("ss").cast("double")
                    - F.col("s").cast("double") * F.col("s") / F.col("n")
                )
                / F.col("n")
            )
        ).alias("std_e6"),
    )


@query(
    "embedding_zscore_apply",
    """
    WITH vals AS (
      SELECT CAST(t.i AS INTEGER) AS dim,
             CAST(round(CAST(e.embedding[t.i] AS DOUBLE), 6)
                  AS DECIMAL(18,6)) AS x
      FROM embeddings e, unnest(range(1, len(e.embedding) + 1)) AS t(i)),
    agg AS (
      SELECT dim, count(*) AS n, sum(x) AS s,
             sum(CAST(x * x AS DECIMAL(30,12))) AS ss
      FROM vals GROUP BY dim),
    stats AS (
      SELECT dim,
             (CAST(s * 1000000 AS BIGINT) // n) / 1000000.0 AS mu,
             CAST(floor(sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
                             / n) * 1000000) AS BIGINT) / 1000000.0 AS sd
      FROM agg),
    packed AS (
      SELECT list(mu ORDER BY dim) AS mus, list(sd ORDER BY dim) AS sds
      FROM stats)
    SELECT e.vec_id, e.label,
           CAST(floor(list_sum([
             ((round(CAST(e.embedding[i] AS DOUBLE), 6) - p.mus[i]) / p.sds[i])
             * ((round(CAST(e.embedding[i] AS DOUBLE), 6) - p.mus[i]) / p.sds[i])
             for i in range(1, len(e.embedding) + 1)]) * 1000000) AS BIGINT)
             AS z_norm2_e6
    FROM embeddings e CROSS JOIN packed p
    """,
)
def embedding_zscore_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score (whitening) normalization APPLIED back to every vector —
    the feature-standardization pass between ``embedding_dim_stats``
    and any distance-based index (un-normalized dimensions with larger
    variance silently dominate cosine/L2 rankings).

    The apply step is the kmeans packed-broadcast shape: the 64-row
    stats table collapses into ONE row of (mean[], std[]) arrays that
    broadcasts onto the corpus, and the per-vector transform runs
    inside codegen (`transform` + `aggregate` over array positions) —
    the vectors are never exploded or shuffled for the application, so
    the pass is one corpus scan plus a 64-row aggregate. Emits the
    squared z-norm per vector (its expectation is ~n_dims, a
    normalization sanity check); stats are pinned at 6 decimals and
    the oracle replays the identical left-to-right fold, so the result
    is bit-equal across engines.
    """
    emb = tbl(spark, sf_dir, "embeddings")
    vals = emb.select(F.posexplode("embedding").alias("d", "v")).select(
        "d",
        F.round(F.col("v").cast("double"), 6).cast("decimal(18,6)").alias("x"),
    )
    stats = (
        vals.groupBy("d")
        .agg(
            F.count("*").alias("n"),
            F.sum("x").alias("s"),
            F.sum((F.col("x") * F.col("x")).cast("decimal(30,12)")).alias("ss"),
        )
        .select(
            "d",
            (F.expr("CAST(s * 1000000 AS BIGINT) div n") / F.lit(1000000.0))
            .alias("mu"),
            (
                sim.fixed_e6(
                    F.sqrt(
                        (
                            F.col("ss").cast("double")
                            - F.col("s").cast("double") * F.col("s") / F.col("n")
                        )
                        / F.col("n")
                    )
                )
                / F.lit(1000000.0)
            ).alias("sd"),
        )
    )
    packed = stats.agg(
        F.array_sort(F.collect_list(F.struct("d", "mu", "sd"))).alias("p")
    ).select(
        F.expr("transform(p, s -> s.mu)").alias("mus"),
        F.expr("transform(p, s -> s.sd)").alias("sds"),
    )
    z2 = F.expr(
        "aggregate(sequence(0, size(embedding) - 1), CAST(0.0 AS DOUBLE),"
        " (acc, i) -> acc +"
        "  ((round(CAST(embedding[i] AS DOUBLE), 6) - mus[i]) / sds[i])"
        "  * ((round(CAST(embedding[i] AS DOUBLE), 6) - mus[i]) / sds[i]))"
    )
    return emb.crossJoin(F.broadcast(packed)).select(
        "vec_id", "label", sim.fixed_e6(z2).alias("z_norm2_e6")
    )


@query(
    "allpairs_jaccard_dups",
    f"""
    WITH sh AS ({_SHINGLES}),
    gr AS (SELECT doc_id, unnest(s) AS gram FROM sh),
    dfq AS (SELECT gram, count(*) AS dfc FROM gr GROUP BY 1),
    ordered AS (
      SELECT gr.doc_id, list(gr.gram ORDER BY dfq.dfc, gr.gram) AS t
      FROM gr JOIN dfq USING (gram) GROUP BY gr.doc_id),
    pref AS (
      SELECT doc_id,
             unnest(t[1 : len(t) - (3 * len(t) + 4) // 5 + 1]) AS gram
      FROM ordered),
    cand AS (
      SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      FROM pref a JOIN pref b ON a.gram = b.gram AND a.doc_id < b.doc_id),
    v AS (
      SELECT c.da, c.db, len(list_intersect(x.t, y.t)) AS i,
             len(x.t) + len(y.t) - len(list_intersect(x.t, y.t)) AS u
      FROM cand c JOIN ordered x ON x.doc_id = c.da
                  JOIN ordered y ON y.doc_id = c.db)
    SELECT da AS doc_a, db AS doc_b,
           CAST((1000000 * i) // u AS BIGINT) AS jaccard_ppm
    FROM v WHERE 5 * i >= 3 * u
    """,
)
def allpairs_jaccard_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPLETE near-dup pairs at shingle-Jaccard >= 3/5 by prefix
    filtering (`operators/dedup.py::allpairs_jaccard`, the
    AllPairs/PPJoin family) — the exact-recall counterpart to the
    probabilistic `lsh_candidate_pairs`→`ngram_jaccard_pairs` path:
    banding can MISS a qualifying pair (tunable-probability recall),
    prefix filtering provably cannot, at the cost of candidate volume
    that depends on the df distribution instead of the band count. A
    production pipeline runs LSH for the bulk and this operator where
    completeness is contractual (eval-set decontamination, license
    dedup). Integer-only threshold arithmetic; both engines replay the
    identical (df, shingle) prefix order.
    """
    docs = tbl(spark, sf_dir, "documents")
    return dd.allpairs_jaccard(docs, "text", "doc_id").select(
        "doc_a", "doc_b", "jaccard_ppm"
    )


@query(
    "contrastive_negatives",
    """
    WITH b AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                  AS BIGINT) % 64 AS bucket
      FROM documents),
    anchors AS (
      SELECT doc_id AS anchor_id, s.j,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':'
                                          || CAST(s.j AS VARCHAR)), 1, 4))
                  AS BIGINT) % 64 AS probe
      FROM documents, unnest([1, 2, 3, 4]) AS s(j)
      WHERE doc_id % 25 = 0),
    ranked AS (
      SELECT a.anchor_id, a.j, b.doc_id AS neg_id,
             row_number() OVER (
               PARTITION BY a.anchor_id, a.j
               ORDER BY md5(CAST(a.anchor_id AS VARCHAR) || ':'
                            || CAST(a.j AS VARCHAR) || ':'
                            || CAST(b.doc_id AS VARCHAR)), b.doc_id) AS rn
      FROM anchors a JOIN b ON b.bucket = a.probe
      WHERE b.doc_id <> a.anchor_id)
    SELECT anchor_id, CAST(j AS INT) AS slot, neg_id
    FROM ranked WHERE rn = 1
    """,
)
def contrastive_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training: each
    anchor (every 25th doc) draws 4 pseudo-random negatives — the
    in-batch-negatives alternative when pairs must be reproducible
    across reruns, engines, and corpus appends (``df.sample`` is none
    of those; same argument as ``operators/sampling.py``).

    The scale mechanism is RANDOM ACCESS VIA HASH BUCKETS: every doc
    sits in one of 64 md5 buckets, each (anchor, slot) probes ONE
    pseudo-random bucket, and an md5-keyed argmin picks one member —
    so the join touches |anchors|·slots·(corpus/64) rows, never
    anchors x corpus (the bucket count grows with the corpus to keep
    per-probe work constant; the bucketed-table layout makes a probe a
    single bucket read). Production composes an anti-join against the
    near-dup pair set so paraphrases of the anchor can't be drawn as
    negatives. All integer/md5 arithmetic — both engines replay the
    draw bit-for-bit.
    """
    docs = tbl(spark, sf_dir, "documents")
    gate16 = lambda c: F.conv(F.substring(F.md5(c), 1, 4), 16, 10).cast("long")  # noqa: E731
    b = docs.select(
        "doc_id", (gate16(F.col("doc_id").cast("string")) % 64).alias("bucket")
    )
    anchors = (
        docs.where(F.col("doc_id") % 25 == 0)
        .select(F.col("doc_id").alias("anchor_id"))
        .select(
            "anchor_id", F.explode(F.array(*[F.lit(j) for j in (1, 2, 3, 4)])).alias("j")
        )
        .select(
            "anchor_id", "j",
            (
                gate16(
                    F.concat_ws(":", F.col("anchor_id").cast("string"),
                                F.col("j").cast("string"))
                ) % 64
            ).alias("probe"),
        )
    )
    draw = F.md5(
        F.concat_ws(
            ":",
            F.col("anchor_id").cast("string"),
            F.col("j").cast("string"),
            F.col("doc_id").cast("string"),
        )
    )
    ranked = (
        anchors.join(b, b.bucket == anchors.probe)
        .where(F.col("doc_id") != F.col("anchor_id"))
        .groupBy("anchor_id", "j")
        .agg(F.min(F.struct(draw.alias("d"), F.col("doc_id").alias("neg_id"))).alias("m"))
    )
    return ranked.select(
        "anchor_id", F.col("j").cast("int").alias("slot"), F.col("m.neg_id").alias("neg_id")
    )


# ---------------------------------------------------------------------------
# Round-2 additions: duplicate-gram char mass, Bloom membership, hybrid search
# ---------------------------------------------------------------------------

@query(
    "dup_ngram_char_fraction",
    f"""
    WITH words AS (SELECT doc_id, {_TOKS} AS w FROM documents),
    grams AS (
      SELECT doc_id, w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS g
      FROM words, unnest(range(0, len(w)-2)) AS t(i)
      WHERE len(w) >= 3),
    counts AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY doc_id, g),
    agg AS (SELECT doc_id,
                   sum(c * length(g)) AS total_chars,
                   sum(CASE WHEN c > 1 THEN c * length(g) ELSE 0 END) AS dup_chars
            FROM counts GROUP BY doc_id)
    SELECT doc_id,
           CAST(total_chars AS BIGINT) AS total_gram_chars,
           CAST(dup_chars AS BIGINT) AS dup_gram_chars,
           CAST((1000000 * dup_chars) // total_chars AS BIGINT) AS dup_char_ppm
    FROM agg
    """,
)
def dup_ngram_char_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter: the share of a document's 3-gram
    CHARACTER MASS carried by 3-grams that occur more than once within
    the document (Rae et al. 2021 drop docs where duplicated n-grams own
    too many characters; ``doc_repetition_ratio`` is the companion
    top-1-gram metric, this is the all-duplicates one).

    Same shuffle shape as ``doc_repetition_ratio``: exploded grams
    collapse into map-side-combined (doc_id, gram) counts, then one
    doc-keyed regroup weighs each gram by ``count * length`` (CHARACTER
    length on both sides — DuckDB ``length``, not byte-counting
    ``strlen``, so the contract holds on non-ASCII corpora too). The
    fraction is exact integer parts-per-million — no double boundary.
    """
    docs = tbl(spark, sf_dir, "documents")
    words = docs.select("doc_id", tx.tokens(F.col("text")).alias("w")).filter(
        F.size("w") >= 3
    )
    grams = words.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(w)-3), i -> concat_ws(' ', slice(w, i+1, 3)))"
            )
        ).alias("g"),
    )
    counts = grams.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    agg = counts.groupBy("doc_id").agg(
        F.sum(F.col("c") * F.length("g")).alias("total_chars"),
        F.sum(
            F.when(F.col("c") > 1, F.col("c") * F.length("g")).otherwise(F.lit(0))
        ).alias("dup_chars"),
    )
    return agg.select(
        "doc_id",
        F.col("total_chars").cast("long").alias("total_gram_chars"),
        F.col("dup_chars").cast("long").alias("dup_gram_chars"),
        F.expr("(1000000 * dup_chars) div total_chars").alias("dup_char_ppm"),
    )


_BLOOM_M = 1024  # bits; sized so the sf0.01 index half fills ~40% of them


@query(
    "bloom_dedup_probe",
    f"""
    WITH fp AS (SELECT doc_id, md5(array_to_string({_TOKS}, ' ')) AS fp
                FROM documents),
    pos AS (SELECT doc_id, fp,
                   CAST(concat('0x', substr(fp, 1, 8)) AS BIGINT) % {_BLOOM_M} AS p1,
                   CAST(concat('0x', substr(fp, 9, 8)) AS BIGINT) % {_BLOOM_M} AS p2
            FROM fp),
    idx AS (SELECT * FROM pos WHERE doc_id % 2 = 0),
    bits AS (SELECT p1 AS p FROM idx UNION SELECT p2 FROM idx),
    batch AS (SELECT * FROM pos WHERE doc_id % 2 = 1)
    SELECT b.doc_id,
           (b.p1 IN (SELECT p FROM bits))
             AND (b.p2 IN (SELECT p FROM bits)) AS bloom_hit,
           b.fp IN (SELECT fp FROM idx) AS exact_dup
    FROM batch b
    """,
)
def bloom_dedup_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership probe for incremental dedup: even doc_ids
    are the already-ingested corpus (the index), odd doc_ids the incoming
    batch. Each fingerprint sets k=2 bit positions (two md5 word slices
    mod m=1024); a batch doc is a ``bloom_hit`` iff BOTH its positions
    are set by the index. ``exact_dup`` is ground truth, so
    ``bloom_hit AND NOT exact_dup`` rows exhibit the false-positive rate
    the m/k sizing buys (~(fill_ratio)^k; no false negatives by
    construction — the property the probe's user relies on).

    Scale shape: the bit set is at most m DISTINCT rows however large
    the index (here a broadcast join; on a 1000-executor cluster the
    m-bit bitmap travels to every task like a real Bloom filter, while
    the index itself is never re-read per batch). The batch side is one
    map stage plus two broadcast lookups — no shuffle keyed on the
    corpus, which is what makes probe-before-ingest viable at 100 TB:
    only bloom_hit survivors proceed to the exact fingerprint anti-join
    (``exact_dedup_incremental``).
    """
    docs = tbl(spark, sf_dir, "documents")
    d = docs.select("doc_id", tx.fingerprint(F.col("text")).alias("fp"))
    slot = lambda a, b: (  # noqa: E731
        F.conv(F.substring("fp", a, b), 16, 10).cast("long") % _BLOOM_M
    )
    pos = d.select("doc_id", "fp", slot(1, 8).alias("p1"), slot(9, 8).alias("p2"))
    idx = pos.where(F.col("doc_id") % 2 == 0)
    batch = pos.where(F.col("doc_id") % 2 == 1)
    bits = idx.select(F.col("p1").alias("p")).union(
        idx.select(F.col("p2").alias("p"))
    ).distinct()
    b1 = bits.select(F.col("p").alias("p1"), F.lit(1).alias("hit1"))
    b2 = bits.select(F.col("p").alias("p2"), F.lit(1).alias("hit2"))
    fps = idx.select("fp").distinct().withColumn("seen", F.lit(1))
    return (
        batch.join(F.broadcast(b1), "p1", "left")
        .join(F.broadcast(b2), "p2", "left")
        .join(F.broadcast(fps), "fp", "left")
        .select(
            "doc_id",
            (F.col("hit1").isNotNull() & F.col("hit2").isNotNull()).alias("bloom_hit"),
            F.col("seen").isNotNull().alias("exact_dup"),
        )
    )


@query(
    "hybrid_search_rrf",
    f"""
    WITH bm AS ({_BM25_TOPK_SQL}),
    co AS ({_COS_TOPK_SQL}),
    rb AS (SELECT doc_id, row_number() OVER (ORDER BY bm25_e6 DESC, doc_id) AS r
           FROM bm),
    rc AS (SELECT vec_id AS doc_id,
                  row_number() OVER (ORDER BY cos_sim_e6 DESC, vec_id) AS r
           FROM co)
    SELECT coalesce(rb.doc_id, rc.doc_id) AS doc_id,
           CAST(floor((coalesce(1.0 / (60 + rb.r), 0)
                       + coalesce(1.0 / (60 + rc.r), 0)) * 1000000) AS BIGINT)
             AS rrf_e6
    FROM rb FULL OUTER JOIN rc ON rb.doc_id = rc.doc_id
    ORDER BY rrf_e6 DESC, doc_id
    LIMIT 10
    """,
)
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via Reciprocal Rank Fusion (Cormack et al. 2009):
    fuse the BM25 keyword top-20 (``bm25_search_topk`` contract) with the
    embedding cosine top-10 (``embedding_topk_cosine`` contract, vec_id
    aligned with doc_id) as sum(1 / (60 + rank)), and return the fused
    top-10 — the standard two-tower + lexical search blend.

    Both input rankings arrive as k-row results (each produced by its own
    scan + TakeOrdered, never a global sort), so the fusion itself — two
    k-row window ranks and a full-outer join on doc_id — is driver-trivial
    at ANY corpus size: cost lives entirely in the upstream retrievers.
    Rank order is reproducible because both engines rank the same
    fixed-point integer scores with id tie-breaks; the RRF sum of two
    exact rationals crosses the boundary as floor(x·10⁶) BIGINT.
    """
    bm = bm25_search_topk(spark, sf_dir)
    co = embedding_topk_cosine(spark, sf_dir)
    rb = bm.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("bm25_e6").desc(), "doc_id"))
        .alias("r_bm"),
    )
    rc = co.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number()
        .over(Window.orderBy(F.col("cos_sim_e6").desc(), "vec_id"))
        .alias("r_cos"),
    )
    fused = rb.join(rc, "doc_id", "full_outer").select(
        "doc_id",
        sim.fixed_e6(
            F.coalesce(1.0 / (60 + F.col("r_bm")), F.lit(0.0))
            + F.coalesce(1.0 / (60 + F.col("r_cos")), F.lit(0.0))
        ).alias("rrf_e6"),
    )
    return fused.orderBy(F.col("rrf_e6").desc(), "doc_id").limit(10)


@query(
    "curriculum_ordinals",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    d AS (SELECT doc_id,
                 CAST(100 * list_sum([length(x) for x in toks]) // len(toks)
                      AS BIGINT) AS difficulty_x100
          FROM t)
    SELECT doc_id, difficulty_x100,
           CAST(row_number() OVER (ORDER BY difficulty_x100, doc_id)
                AS BIGINT) AS ordinal
    FROM d
    """,
)
def curriculum_ordinals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering: number every document by a global easy→hard
    order (average token length ×100 as an exact-BIGINT difficulty,
    doc_id tie-break) so the training shard writer can emit the corpus
    in difficulty order with a contiguous sequence id.

    The oracle is the textbook ``row_number() OVER (ORDER BY ...)`` —
    which Spark would plan as ONE window partition holding the whole
    corpus. The engine instead uses
    ``operators/ordinals.py::global_ordinals``: difficulty-range buckets
    (width 50) get per-bucket counts (tiny agg), exclusive prefix-sum
    offsets over the n_buckets-row table, and a parallel
    ``partitionBy(bucket)`` row_number — bit-identical to the global
    window (the bucket order refines the row order) with no
    corpus-sized serial stage.
    """
    from etl_process_spark.operators.ordinals import global_ordinals

    docs = tbl(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("t")
    )
    d = toks.select(
        "doc_id",
        F.expr(
            "CAST((100 * aggregate(transform(t, x -> length(x)), 0L,"
            " (a, x) -> a + x)) div size(t) AS BIGINT)"
        ).alias("difficulty_x100"),
    )
    return global_ordinals(
        d,
        order_by=[F.col("difficulty_x100"), F.col("doc_id")],
        bucket=F.expr("difficulty_x100 div 50"),
    ).select("doc_id", "difficulty_x100", "ordinal")


@query(
    "chunk_dedup_rewrite",
    f"""
    WITH tok AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    c AS (SELECT doc_id, (s - 1) // 32 AS chunk_id,
                 array_to_string(t[s:s+31], ' ') AS chunk_text,
                 len(t[s:s+31]) AS n_tok
          FROM tok, unnest(generate_series(1, len(t), 32)) AS u(s)),
    shared AS (SELECT md5(chunk_text) AS fp FROM c WHERE n_tok = 32
               GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
    marked AS (SELECT c.*, (c.n_tok = 32 AND s.fp IS NOT NULL) AS dropped
               FROM c LEFT JOIN shared s ON md5(c.chunk_text) = s.fp)
    SELECT doc_id,
           count(*) AS n_chunks,
           CAST(sum(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dropped,
           md5(coalesce(string_agg(chunk_text, ' ' ORDER BY chunk_id)
                          FILTER (WHERE NOT dropped), '')) AS clean_md5
    FROM marked
    GROUP BY doc_id
    """,
)
def chunk_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized exact-substring scrub (the RefinedWeb/MassiveText
    "remove duplicated spans" step): split each doc into NON-overlapping
    32-token chunks, drop every full-width chunk whose fingerprint occurs
    in ≥2 distinct documents, and reassemble the survivors in position
    order — ``duplicate_chunk_docs`` measures the damage; this operator
    performs the repair and md5-pins the rewritten text.

    Scale shape: the corpus-wide duplicate set is an fp-keyed partial
    aggregate over md5 DIGESTS (the shuffle never carries chunk text),
    anti-joined back on the same fp-keyed exchange; reassembly is a
    doc-keyed regroup of (chunk_id, text) pairs — each doc's chunks
    collapse to one row via sort_array, no window needed. Tail chunks
    (< 32 tokens) are never dropped, so every token position is
    accounted for exactly once (stride = width).
    """
    docs = tbl(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("t")
    )
    chunks = toks.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.size("t"), F.lit(32))).alias("s"),
        F.col("t"),
    ).select(
        "doc_id",
        F.expr("CAST((s - 1) div 32 AS BIGINT)").alias("chunk_id"),
        F.concat_ws(" ", F.expr("slice(t, s, 32)")).alias("chunk_text"),
        F.expr("size(slice(t, s, 32))").alias("n_tok"),
    ).withColumn("fp", F.md5("chunk_text"))
    shared = (
        chunks.where(F.col("n_tok") == 32)
        .groupBy("fp")
        .agg(F.count_distinct("doc_id").alias("ndocs"))
        .where(F.col("ndocs") >= 2)
        .select("fp")
    )
    marked = chunks.join(
        shared.withColumn("hit", F.lit(1)), "fp", "left"
    ).select(
        "doc_id",
        "chunk_id",
        "chunk_text",
        ((F.col("n_tok") == 32) & F.col("hit").isNotNull()).alias("dropped"),
    )
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.col("dropped").cast("long")).alias("n_dropped"),
        F.md5(
            F.concat_ws(
                " ",
                F.expr(
                    "transform(filter(sort_array(collect_list("
                    "struct(chunk_id, dropped, chunk_text))),"
                    " x -> NOT x.dropped), x -> x.chunk_text)"
                ),
            )
        ).alias("clean_md5"),
    )


@query(
    "phrase_search_positional",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS w FROM documents),
    hits AS (
      SELECT doc_id,
             len([i FOR i IN range(0, len(w) - 1)
                  IF w[i+1] = 'fast' AND w[i+2] = 'join']) AS n_occ
      FROM t)
    SELECT doc_id, CAST(n_occ AS BIGINT) AS n_occ
    FROM hits WHERE n_occ > 0
    """,
)
def phrase_search_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search ("fast join") via positional posting lists —
    the inverted-index retrieval primitive BM25's bag-of-words scoring
    cannot express: occurrence requires the terms ADJACENT in order, so
    the engine intersects the two terms' (doc, position) postings on
    ``pos₂ = pos₁ + 1``.

    Scale shape: posexplode is map-side and the per-term filters drop
    every non-phrase token BEFORE the exchange, so the shuffle carries
    only the two query terms' postings (term-selectivity-sized, not
    corpus-sized) — exactly what a search engine reads from its index;
    the join key (doc, adjacent position) is the standard positional
    intersection. In a served deployment the postings table is the
    stored index (write once, bucket by term) and this query reads two
    buckets of it.
    """
    docs = tbl(spark, sf_dir, "documents")
    posts = docs.select(
        "doc_id",
        F.posexplode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias(
            "pos", "tok"
        ),
    )
    p1 = posts.where(F.col("tok") == "fast").select("doc_id", "pos")
    p2 = posts.where(F.col("tok") == "join").select(
        "doc_id", (F.col("pos") - 1).alias("pos")
    )
    return (
        p1.join(p2, ["doc_id", "pos"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occ"))
    )


@query(
    "containment_dup_pairs",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS w FROM documents),
    sh AS (SELECT DISTINCT doc_id, w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS s
           FROM t, unnest(range(0, len(w)-2)) AS u(i) WHERE len(w) >= 3),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    dfq AS (SELECT s, count(*) AS dfc FROM sh GROUP BY 1),
    rare AS (SELECT s FROM dfq WHERE dfc BETWEEN 2 AND 5),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM sh a JOIN sh b USING (s) JOIN rare USING (s)
             WHERE a.doc_id < b.doc_id),
    inter AS (SELECT c.doc_a, c.doc_b, count(*) AS ni
              FROM cand c JOIN sh a ON a.doc_id = c.doc_a
                          JOIN sh b ON b.doc_id = c.doc_b AND a.s = b.s
              GROUP BY 1, 2)
    SELECT i.doc_a, i.doc_b,
           CAST((1000000 * ni) // sa.n AS BIGINT) AS cont_a_in_b_ppm,
           CAST((1000000 * ni) // sb.n AS BIGINT) AS cont_b_in_a_ppm
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE 2 * ni >= sa.n OR 2 * ni >= sb.n
    """,
)
def containment_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup detection by Broder containment
    C(A,B) = |A∩B| / |A| over trigram shingle SETS — the quote/inclusion
    detector: a short doc pasted inside a long one scores high
    containment while its symmetric Jaccard (what MinHash-LSH and
    AllPairs threshold on) stays low, so this is the family those
    operators structurally miss.

    Blocking: candidate pairs must share a RARE shingle (document
    frequency 2..5). Rarity caps every bucket's fan-out at C(5,2) — the
    equi-join stays linear in corpus size — and a contained span of ≥3
    tokens necessarily carries shared shingles, which are rare unless
    the span is boilerplate (df > 5 ⇒ boilerplate, handled by
    `boilerplate_trigram_coverage`, not quote detection). Verification
    joins shingles only on candidate pairs (same restricted shape as
    `ngram_jaccard_pairs`); sizes broadcast back. Heuristic-recall
    blocker by design — documented, not silent.
    """
    docs = tbl(spark, sf_dir, "documents")
    toks = dd.ensure_parallelism(docs).select(
        "doc_id", F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("w")
    ).where(F.size("w") >= 3)
    # the shingle posting table feeds FIVE plan references (sizes, the
    # rarity df count, the rare-posting join, and both verify sides);
    # un-materialized, the tokenize + trigram explode re-ran per
    # reference — checkpoint once, like allpairs_jaccard's sh table
    sh = checkpoint(toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "array_distinct(transform(sequence(0, size(w)-3),"
                " i -> concat_ws(' ', slice(w, i+1, 3))))"
            )
        ).alias("s"),
    ), eager=False)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    rare = (
        sh.groupBy("s")
        .agg(F.count(F.lit(1)).alias("dfc"))
        .where(F.col("dfc").between(2, 5))
        .select("s")
    )
    # referenced by both sides of the candidate self-join
    rare_posts = checkpoint(sh.join(rare, "s"), eager=False)
    cand = (
        rare_posts.alias("a")
        .join(rare_posts.alias("b"), "s")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    inter = (
        cand.join(sh.alias("ia"), F.col("doc_a") == F.col("ia.doc_id"))
        .join(
            sh.alias("ib"),
            (F.col("doc_b") == F.col("ib.doc_id"))
            & (F.col("ia.s") == F.col("ib.s")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("ni"))
    )
    scored = (
        inter.join(
            F.broadcast(sizes.select(F.col("doc_id").alias("doc_a"),
                                     F.col("n").alias("na"))), "doc_a")
        .join(
            F.broadcast(sizes.select(F.col("doc_id").alias("doc_b"),
                                     F.col("n").alias("nb"))), "doc_b")
    )
    keep = (2 * F.col("ni") >= F.col("na")) | (2 * F.col("ni") >= F.col("nb"))
    return scored.where(keep).select(
        "doc_a",
        "doc_b",
        F.expr("(1000000 * ni) div na").alias("cont_a_in_b_ppm"),
        F.expr("(1000000 * ni) div nb").alias("cont_b_in_a_ppm"),
    )


@query(
    "embedding_covariance",
    """
    WITH vals AS (
      SELECT e.vec_id, CAST(t.i AS INTEGER) - 1 AS d,
             CAST(round(CAST(e.embedding[t.i] AS DOUBLE) * 1000000, 0)
                  AS BIGINT) AS x
      FROM embeddings e, unnest(range(1, len(e.embedding) + 1)) AS t(i)),
    prods AS (
      SELECT a.d AS di, b.d AS dj,
             sum(CAST(a.x * b.x AS DECIMAL(38,0))) AS sp
      FROM vals a JOIN vals b ON a.vec_id = b.vec_id AND b.d >= a.d
      GROUP BY 1, 2),
    dims AS (SELECT d, count(*) AS n,
                    sum(CAST(x AS DECIMAL(20,0))) AS s
             FROM vals GROUP BY 1)
    SELECT p.di, p.dj, da.n,
           CAST(floor((CAST(p.sp AS DOUBLE) / 1e12 / da.n
                       - (CAST(da.s AS DOUBLE) / 1e6 / da.n)
                         * (CAST(db.s AS DOUBLE) / 1e6 / db.n)) * 1000000)
                AS BIGINT) AS cov_e6
    FROM prods p
    JOIN dims da ON da.d = p.di
    JOIN dims db ON db.d = p.dj
    """,
)
def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle covariance (Gram) matrix of the embedding corpus —
    the input to PCA/whitening and the correlation screen for redundant
    dimensions before indexing.

    Scale shape: each vector quantizes ONCE to a scaled-integer array
    (round(v·10⁶) as BIGINT — the same fixed-point device as
    `quantize_int8` and the PageRank units) and emits its dim-pair
    products IN-ROW (nested `transform` + one explode; the corpus is
    never self-joined — the oracle's vec_id equi-join is the same sum by
    associativity). Products are BIGINT multiplies summed exactly as
    DECIMAL(38,0) — integer arithmetic end-to-end until one final
    double division, which both engines perform on identical numerators
    (a first cut multiplied DECIMAL(18,6)s pairwise: 5× slower from
    BigDecimal scaling — fixed-point beats decimal in the hot loop).
    The shuffle is a (di, dj)-keyed partial aggregate of ≤ dims²/2
    groups — corpus-size-independent, like the k-means centroid update.
    """
    emb = tbl(spark, sf_dir, "embeddings")
    # dims²/2 in-row products per vector explode out of the scan — a
    # single-file corpus would run that entire map stage on one core
    ints = dd.ensure_parallelism(emb).select(
        F.expr(
            "transform(embedding, v ->"
            " CAST(round(CAST(v AS DOUBLE) * 1000000, 0) AS BIGINT))"
        ).alias("x")
    )
    pairs = ints.select(
        F.explode(
            F.expr(
                "flatten(transform(sequence(0, size(x)-1), i ->"
                " transform(sequence(i, size(x)-1), j ->"
                " struct(i AS di, j AS dj, x[i] * x[j] AS p))))"
            )
        ).alias("c")
    ).select("c.di", "c.dj", "c.p")
    prods = pairs.groupBy("di", "dj").agg(
        F.sum(F.col("p").cast("decimal(38,0)")).alias("sp")
    )
    dims = (
        ints.select(F.posexplode("x").alias("d", "xi"))
        .groupBy("d")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("xi").cast("decimal(20,0)")).alias("s"),
        )
    )
    da = dims.select(
        F.col("d").alias("di"), F.col("n"), F.col("s").alias("sa")
    )
    db = dims.select(F.col("d").alias("dj"), F.col("s").alias("sb"))
    return (
        prods.join(F.broadcast(da), "di")
        .join(F.broadcast(db), "dj")
        .select(
            "di",
            "dj",
            "n",
            # fixed-point boundary: floor(x·10⁶) BIGINT — integer output,
            # so no round()-ulp or negative-zero cross-engine hazards
            sim.fixed_e6(
                F.col("sp").cast("double") / F.lit(1e12) / F.col("n")
                - (F.col("sa").cast("double") / F.lit(1e6) / F.col("n"))
                * (F.col("sb").cast("double") / F.lit(1e6) / F.col("n"))
            ).alias("cov_e6"),
        )
    )


@query(
    "corpus_datasheet",
    f"""
    WITH t AS (SELECT doc_id, lang, source, n_chars,
                      md5(array_to_string({_TOKS}, ' ')) AS fp,
                      len({_TOKS}) AS n_toks
               FROM documents)
    SELECT count(*) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS n_tokens,
           count(DISTINCT lang) AS n_langs,
           count(DISTINCT source) AS n_sources,
           count(*) - count(DISTINCT fp) AS n_exact_dup_docs,
           CAST(100 * sum(n_toks) // count(*) AS BIGINT)
             AS mean_tokens_x100,
           CAST(sum(n_chars) AS BIGINT) AS n_chars_total
    FROM t
    """,
)
def corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-row dataset card ("Datasheets for Datasets", Gebru et al.
    2021): corpus size in docs/tokens/chars, language and source
    diversity, exact-duplicate mass, mean doc length — the summary a
    training run records next to its data snapshot.

    Everything folds into ONE full-width aggregation (count-distincts
    expand to partial aggs over the small lang/source/fp key spaces);
    integer metrics only — mean length ships as a ×100 BIGINT
    (integer division, both engines) so the card is hash-exact with no
    float boundary anywhere.
    """
    docs = tbl(spark, sf_dir, "documents")
    t = docs.select(
        "lang",
        "source",
        "n_chars",
        tx.fingerprint(F.col("text")).alias("fp"),
        F.size(tx.tokens(F.col("text"))).alias("n_toks"),
    )
    return t.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").cast("long").alias("n_tokens"),
        F.count_distinct("lang").alias("n_langs"),
        F.count_distinct("source").alias("n_sources"),
        (F.count(F.lit(1)) - F.count_distinct("fp")).alias("n_exact_dup_docs"),
        F.expr("CAST((100 * sum(n_toks)) div count(*) AS BIGINT)").alias(
            "mean_tokens_x100"
        ),
        F.sum("n_chars").cast("long").alias("n_chars_total"),
    )


@query(
    "simhash_dup_pairs",
    f"""
    WITH hs AS (
      SELECT doc_id AS doc, [md5(t) for t in {_TOKS}] AS hl FROM documents
    ),
    cnt AS (
      SELECT doc,
             [list_sum([CASE WHEN strpos(
                               (['89abcdef','4567cdef','2367abef','13579bdf'])[i % 4 + 1],
                               substr(h, 1 + i // 4, 1)) > 0
                             THEN 1 ELSE -1 END
                        for h in hl])
              for i in range(0, 64)] AS c
      FROM hs
    ),
    sig AS (
      SELECT doc,
             [CAST(list_sum([CASE WHEN c[16 * b + j + 1] > 0
                                  THEN (1 << (15 - j)) ELSE 0 END
                             for j in range(0, 16)]) AS BIGINT)
              for b in range(0, 4)] AS shs
      FROM cnt
    ),
    banded AS (
      SELECT doc, shs, b.band, shs[b.band + 1] AS bucket
      FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS band) b
    ),
    cand AS (
      SELECT DISTINCT x.doc AS doc_a, y.doc AS doc_b
      FROM banded x JOIN banded y
        ON x.band = y.band AND x.bucket = y.bucket AND x.doc < y.doc
    ),
    ham AS (
      SELECT c.doc_a, c.doc_b,
             CAST(bit_count(xor(sa.shs[1], sb.shs[1]))
                + bit_count(xor(sa.shs[2], sb.shs[2]))
                + bit_count(xor(sa.shs[3], sb.shs[3]))
                + bit_count(xor(sa.shs[4], sb.shs[4])) AS INT) AS hamming
      FROM cand c JOIN sig sa ON c.doc_a = sa.doc JOIN sig sb ON c.doc_b = sb.doc
    )
    SELECT doc_a, doc_b, hamming FROM ham WHERE hamming <= 3
    """,
)
def simhash_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs (operators/dedup.py::simhash_dup_pairs):
    Hamming-LSH banding of the 64-bit signature into 4×16-bit bands —
    recall-EXACT for Hamming ≤ 3 by pigeonhole, 2^16 buckets per band so
    candidate pairs stay near-linear — then an integer popcount(xor)
    verify over the four band values.

    The complement of the MinHash path: SimHash catches small token-level
    perturbations (a few flipped words barely move the weighted bit
    vector) where Jaccard on 3-shingles drops fast. Candidates come from
    a bucket equi-join; pairs explode only inside buckets; the verify is
    all-integer so the boundary is hash-exact in any engine.
    """
    docs = tbl(spark, sf_dir, "documents")
    return dd.simhash_dup_pairs(docs, "text", "doc_id", max_hamming=3)


@query(
    "substring_dedup_spans",
    f"""
    WITH win AS (
      SELECT doc_id AS doc,
             md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' ||
                 t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7]) AS g
      FROM (SELECT doc_id, {_TOKS} AS t FROM documents),
           unnest(range(1, len(t) - 6)) AS u(i)
      WHERE len(t) >= 8
    ),
    gd AS (SELECT g, count(DISTINCT doc) AS n_docs FROM win GROUP BY g)
    SELECT doc,
           count(*) AS n_windows,
           CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_windows,
           CAST((1000000 * sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END)) // count(*)
                AS BIGINT) AS dup_ppm
    FROM win JOIN gd USING (g)
    GROUP BY doc
    """,
)
def substring_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-substring mass via fingerprinted 8-token
    windows (operators/dedup.py::dup_window_stats) — the shuffle-friendly
    form of exact substring dedup (Lee et al. 2022): any repeated span of
    ≥ 8 tokens marks every window it covers, so dup_ppm is the exact
    repeated-span coverage at window granularity. Digest-only shuffles;
    integer ppm at the boundary.
    """
    docs = tbl(spark, sf_dir, "documents")
    return dd.dup_window_stats(docs, "text", "doc_id", k=8)


def _knn_side_sql(d: str, qpar: int, cpar: int, k: int, nprobe: int) -> str:
    """One direction of the probed cross-side kNN as DuckDB CTEs
    (suffix ``d``): queries = vectors with label%2 = qpar, corpus =
    label%2 = cpar. Mirrors operators/similarity.py::knn_join — e6-
    quantized centroid means, nprobe nearest-centroid cells per query,
    cosine floor(×10⁶) scores, per-query top-k with (score, id) ties.
    """
    return f"""
    qs_{d} AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
               WHERE label % 2 = {qpar}),
    qn_{d} AS (SELECT qid, sqrt(list_sum([qe[i]::DOUBLE * qe[i]::DOUBLE
                                          for i in range(1, len(qe)+1)])) AS qnorm
               FROM qs_{d}),
    cent_{d} AS (
      SELECT label AS cell, i,
             CAST(sum(CAST(floor(embedding[i]::DOUBLE * 1000000) AS BIGINT))
                  AS DOUBLE) / (count(*) * 1000000.0) AS c
      FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS i) s
      WHERE label % 2 = {cpar}
      GROUP BY label, i
    ),
    cellsim_{d} AS (
      SELECT qs.qid, cent.cell,
             CAST(floor(sum(cent.c * qs.qe[cent.i]::DOUBLE)
                        / (sqrt(sum(cent.c * cent.c)) * any_value(qn.qnorm))
                        * 1000000) AS BIGINT) AS csim
      FROM cent_{d} cent CROSS JOIN qs_{d} qs JOIN qn_{d} qn ON qn.qid = qs.qid
      GROUP BY qs.qid, cent.cell
    ),
    probe_{d} AS (
      SELECT qid, cell FROM (
        SELECT qid, cell,
               row_number() OVER (PARTITION BY qid ORDER BY csim DESC, cell) AS crn
        FROM cellsim_{d}) WHERE crn <= {nprobe}
    ),
    scored_{d} AS (
      SELECT p.qid, e.vec_id,
             CAST(floor(
               list_sum([e.embedding[i]::DOUBLE * qs.qe[i]::DOUBLE
                         for i in range(1, len(e.embedding)+1)])
               / (sqrt(list_sum([e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE
                                 for i in range(1, len(e.embedding)+1)]))
                  * qn.qnorm) * 1000000) AS BIGINT) AS cos_sim_e6
      FROM embeddings e JOIN probe_{d} p ON e.label = p.cell
           JOIN qs_{d} qs ON qs.qid = p.qid JOIN qn_{d} qn ON qn.qid = p.qid
      WHERE e.label % 2 = {cpar}
    ),
    top_{d} AS (
      SELECT qid, vec_id, cos_sim_e6 FROM (
        SELECT qid, vec_id, cos_sim_e6,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY cos_sim_e6 DESC, vec_id) AS rn
        FROM scored_{d}) WHERE rn <= {k}
    )"""


@query(
    "margin_bitext_pairs",
    f"""
    WITH {_knn_side_sql("ab", 0, 1, 4, 3)},
    {_knn_side_sql("ba", 1, 0, 4, 3)},
    sum_a AS (SELECT qid AS id_a, sum(cos_sim_e6) AS s_a FROM top_ab GROUP BY qid),
    sum_b AS (SELECT qid AS id_b, sum(cos_sim_e6) AS s_b FROM top_ba GROUP BY qid),
    mutual AS (
      SELECT ab.qid AS id_a, ab.vec_id AS id_b, ab.cos_sim_e6
      FROM top_ab ab JOIN top_ba ba
        ON ab.qid = ba.vec_id AND ab.vec_id = ba.qid
    )
    SELECT m.id_a, m.id_b, m.cos_sim_e6,
           CAST((CAST(2000000 AS BIGINT) * 4 * m.cos_sim_e6) // (s_a + s_b)
                AS BIGINT) AS margin_ppm
    FROM mutual m JOIN sum_a USING (id_a) JOIN sum_b USING (id_b)
    WHERE m.cos_sim_e6 > 0 AND s_a + s_b > 0
    """,
)
def margin_bitext_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019, operators/
    similarity.py::margin_mutual_pairs): the embedding corpus split into
    two 'languages' by label parity, mutual-kNN pairs across the sides
    scored by the ratio margin — cos(x,y) against the mean similarity of
    each vector's own k-NN neighborhood, kept as one exact integer
    division (margin_ppm).

    Both kNN directions run the probed knn_join (IVF cells per side,
    nprobe=3 of 5 cells), so neither side is cross-joined — the mining
    pass a parallel-corpus pipeline runs over two web-scale crawls.
    """
    emb = tbl(spark, sf_dir, "embeddings")
    side_a = emb.filter(F.col("label") % 2 == 0)
    side_b = emb.filter(F.col("label") % 2 == 1)
    return sim.margin_mutual_pairs(side_a, side_b, k=4, nprobe=3, dim=sim.EMBED_DIM,
                                   impl="arrow")


_BPE_WRAP = (
    "' ' || array_to_string([substr(t, i, 1) for i in range(1, len(t)+1)], '  ')"
    " || ' '"
)


def _bpe_round_sql(r: int) -> str:
    """One unrolled BPE training round as DuckDB CTEs: count adjacent
    symbol pairs of the round-r corpus d{r}, pick the (count desc, pair
    asc) winner w{r}, rewrite into d{r+1} via the framed string replace
    (see operators/text.py::bpe_wrap for why replace is exact)."""
    return f"""
    p{r} AS (SELECT pair, count(*) AS n FROM (
               SELECT unnest([y[i] || ' ' || y[i+1] for i in range(1, len(y))]) AS pair
               FROM (SELECT string_split(trim(s), '  ') AS y FROM d{r}))
             GROUP BY pair),
    w{r} AS (SELECT pair, n FROM p{r} ORDER BY n DESC, pair LIMIT 1),
    d{r + 1} AS (SELECT replace(s, ' ' || replace(w.pair, ' ', '  ') || ' ',
                                   ' ' || replace(w.pair, ' ', '') || ' ') AS s
                 FROM d{r}, w{r} w)"""


def _bpe_apply_round_sql(r: int) -> str:
    """One unrolled BPE round over the doc-keyed stream d{r}: counts
    ignore doc_id (identical winner sequence to _bpe_round_sql), the
    rewrite carries (doc_id, n0) through. LEFT JOIN mirrors the Spark
    side's _bpe_rewrite fix: a round with no pairs has an EMPTY w{r},
    and a cross join would annihilate every document row — the left
    join keeps them and no-ops the rewrite on the NULL pair."""
    return f"""
    p{r} AS (SELECT pair, count(*) AS n FROM (
               SELECT unnest([y[i] || ' ' || y[i+1] for i in range(1, len(y))]) AS pair
               FROM (SELECT string_split(trim(s), '  ') AS y FROM d{r}))
             GROUP BY pair),
    w{r} AS (SELECT pair FROM p{r} ORDER BY n DESC, pair LIMIT 1),
    d{r + 1} AS (SELECT doc_id, n0,
                        CASE WHEN w.pair IS NULL THEN s
                             ELSE replace(s, ' ' || replace(w.pair, ' ', '  ') || ' ',
                                             ' ' || replace(w.pair, ' ', '') || ' ')
                        END AS s
                 FROM d{r} LEFT JOIN w{r} w ON TRUE)"""


@query(
    "tokenizer_bpe_apply",
    f"""
    WITH dtok AS (SELECT doc_id, unnest({_TOKS}) AS t FROM documents),
    d1 AS (SELECT doc_id, {_BPE_WRAP} AS s,
                  len(string_split(trim({_BPE_WRAP}), '  ')) AS n0
           FROM dtok),
    {_bpe_apply_round_sql(1)},
    {_bpe_apply_round_sql(2)},
    {_bpe_apply_round_sql(3)}
    SELECT doc_id,
           CAST(sum(n0) AS BIGINT) AS char_syms,
           CAST(sum(len(string_split(trim(s), '  '))) AS BIGINT) AS bpe_syms,
           CAST((1000000 * sum(len(string_split(trim(s), '  '))))
                // sum(n0) AS BIGINT) AS compression_ppm
    FROM d4 GROUP BY doc_id
    """,
)
def tokenizer_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION at corpus scale (operators/text.py::
    bpe_apply): train 3 BPE merges on the corpus (same winner sequence
    as iterative_bpe_merges) and apply them to every document, emitting
    per-doc symbol counts before/after and the exact-integer compression
    ratio — the encode pass a training pipeline runs over 100 TB after
    tokenizer training, as one lazy plan (per round: one (pair, count)
    partial-agg shuffle + a 1-row winner broadcast into a per-row
    rewrite; one final doc-keyed agg shuffle).
    """
    docs = tbl(spark, sf_dir, "documents")
    return tx.bpe_apply(docs, "text", "doc_id", rounds=3)


@query(
    "tokenizer_bpe_deep_merges",
    f"""
    WITH tok AS (SELECT unnest({_TOKS}) AS t FROM documents),
    d1 AS (SELECT {_BPE_WRAP} AS s FROM tok),
    {_bpe_round_sql(1)},
    {_bpe_round_sql(2)},
    {_bpe_round_sql(3)},
    {_bpe_round_sql(4)},
    {_bpe_round_sql(5)},
    {_bpe_round_sql(6)}
    SELECT CAST(1 AS INT) AS merge_round, pair, n FROM w1
    UNION ALL SELECT CAST(2 AS INT) AS merge_round, pair, n FROM w2
    UNION ALL SELECT CAST(3 AS INT) AS merge_round, pair, n FROM w3
    UNION ALL SELECT CAST(4 AS INT) AS merge_round, pair, n FROM w4
    UNION ALL SELECT CAST(5 AS INT) AS merge_round, pair, n FROM w5
    UNION ALL SELECT CAST(6 AS INT) AS merge_round, pair, n FROM w6
    """,
)
def tokenizer_bpe_deep_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six BPE merge rounds via DELTA pair-count maintenance
    (operators/text.py::bpe_merge_rounds_delta): only the rows
    containing each round's framed winner re-explode their adjacencies,
    with ∓1 weights folded into the running (pair, n) table — per-round
    shuffle is O(affected pairs), the asymmetry that makes a 50k-merge
    tokenizer trainable at 100 TB. The oracle is the full RECOUNT
    formulation (re-derive every round's counts from the rewritten
    corpus), so this differential is a cross-ALGORITHM check, not a
    replay: the two paths share no code shape, only the BPE definition.

    Local-bench note: at sf0.1 the per-round fixed costs (winner job,
    checkpoint of the rewritten stream) dominate and early-round merges
    touch nearly every row, so wall-clock ≈ the recount version — the
    delta's O(affected) shuffle advantage appears when merges get rare,
    i.e. deep vocabularies over real corpus sizes (same cost profile as
    the iterative graph family).
    """
    docs = tbl(spark, sf_dir, "documents")
    return tx.bpe_merge_rounds_delta(docs, "text", rounds=6)


@query(
    "iterative_bpe_merges",
    f"""
    WITH tok AS (SELECT unnest({_TOKS}) AS t FROM documents),
    d1 AS (SELECT {_BPE_WRAP} AS s FROM tok),
    {_bpe_round_sql(1)},
    {_bpe_round_sql(2)},
    {_bpe_round_sql(3)}
    SELECT CAST(1 AS INT) AS merge_round, pair, n FROM w1
    UNION ALL SELECT CAST(2 AS INT) AS merge_round, pair, n FROM w2
    UNION ALL SELECT CAST(3 AS INT) AS merge_round, pair, n FROM w3
    """,
)
def iterative_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three full rounds of BPE tokenizer training (operators/text.py::
    bpe_merge_rounds): corpus-wide adjacent-symbol pair counts, merge the
    winner everywhere, recount — the iterative heart of training a
    tokenizer ON the training corpus, as a single lazy distributed plan.

    Each round is one partial-agg shuffle of (pair, count) plus a 1-row
    broadcast of the winner back into a per-row string rewrite; no
    collect(), no driver-side loop over data. Round 2's counts genuinely
    reflect round 1's merge (the merged symbol participates in new
    pairs), which is what distinguishes this from one-shot pair counting
    (bpe_pair_counts).
    """
    docs = tbl(spark, sf_dir, "documents")
    return tx.bpe_merge_rounds(docs, "text", rounds=3)
