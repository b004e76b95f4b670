"""Text-analysis operators for training-data pipelines.

Everything here is a per-row expression built from Spark SQL higher-order
functions (transform/aggregate/filter over arrays) — JVM-side, inside
whole-stage codegen, zero shuffle, no Python UDFs. At 100 TB these scale
embarrassingly: each partition computes independently and nothing moves.

Hash family: md5 throughout. xxhash64 would be marginally faster JVM-side,
but md5 is deterministic, engine-portable (the DuckDB oracle computes the
identical hex strings), and ubiquitous — the right default for fingerprints
that must be reproducible across systems. Swap `hash_fn` for xxhash64 when
cross-engine reproducibility is not required.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from etl_process_spark.session import checkpoint

# Stopword markers per language for the n-gram/stopword language heuristic.
# Deliberately tiny: language ID at pipeline scale is a cheap prior, not a
# model. Extend per corpus.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "fr": ("le", "la", "les", "et", "est"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "la", "los", "y", "es"),
}


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization of lowercased text (shared by all operators).

    The normalization (lower + trim + split on runs of whitespace) is the
    contract every downstream op and the oracle agree on.
    """
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(F.lower(c)), r"\s+")


def token_count_ws(text: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text))


def token_count_bpe(text: Column | str) -> Column:
    """BPE-ish subword count: runs of letters, runs of digits, single
    punctuation — the classic pre-tokenizer regex. Counted via
    regexp_extract_all, JVM-side."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(F.lower(c), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0))


def avg_token_len(text: Column | str) -> Column:
    """Mean token length in characters (quality-scoring feature) as a
    RAW double — one IEEE division, engine-exact given identical
    inputs. Use for threshold filters; for emitted columns use
    :func:`avg_token_len_ppm` (integer at the output boundary)."""
    t = tokens(text)
    total = F.aggregate(t, F.lit(0), lambda acc, x: acc + F.length(x))
    return total.cast("double") / F.size(t)


def avg_token_len_ppm(text: Column | str) -> Column:
    """Mean token length in exact integer ppm (chars·10⁶ per token,
    truncating division — identical in every engine)."""
    t = tokens(text)
    total = F.aggregate(t, F.lit(0), lambda acc, x: acc + F.length(x))
    return _ppm(total, F.size(t))


def _ppm(num: Column, den: Column) -> Column:
    x = F.lit(1000000).cast("bigint") * num.cast("bigint")
    d = den.cast("bigint")
    return ((x - x % d) / d).cast("bigint")


def stopword_ratio(text: Column | str, stopwords: tuple[str, ...] = LANG_MARKERS["en"]) -> Column:
    """Fraction of tokens that are stopwords, as a RAW double (see
    :func:`avg_token_len` for the raw-vs-ppm contract)."""
    t = tokens(text)
    hits = F.size(F.filter(t, lambda x: x.isin(*stopwords)))
    return hits.cast("double") / F.size(t)


def stopword_ppm(text: Column | str, stopwords: tuple[str, ...] = LANG_MARKERS["en"]) -> Column:
    """Stopword fraction in exact integer ppm (truncating division)."""
    t = tokens(text)
    hits = F.size(F.filter(t, lambda x: x.isin(*stopwords)))
    return _ppm(hits, F.size(t))


def lang_scores(text: Column | str) -> dict[str, Column]:
    """Per-language marker-token hit counts (the language-ID heuristic)."""
    t = tokens(text)
    return {
        lang: F.size(F.filter(t, lambda x: x.isin(*marks)))
        for lang, marks in LANG_MARKERS.items()
    }


def lang_id(text: Column | str) -> Column:
    """Argmax language by marker hits, deterministic tie-break by language
    code (ties and zero-hit rows resolve to the lexicographically first
    language — a stable, engine-portable rule)."""
    scores = lang_scores(text)
    pairs = F.array(*[
        F.struct(scores[lang].alias("score"), F.lit(lang).alias("lang"))
        for lang in sorted(scores)
    ])
    # max score, min lang on ties: sort by (-score, lang) and take the head
    best = F.array_min(
        F.transform(pairs, lambda p: F.struct((-p["score"]).alias("neg"), p["lang"].alias("lang")))
    )
    return best["lang"]


def fingerprint(text: Column | str) -> Column:
    """Document fingerprint: md5 of the canonical token stream.

    Canonicalization (lower/trim/collapse whitespace via the shared
    tokenizer) makes the fingerprint whitespace- and case-invariant — the
    practical exact-dup key for web-scale corpora.
    """
    return F.md5(F.concat_ws(" ", tokens(text)))


# PII patterns shared by the engine and the DuckDB oracle: RE2-safe
# (no lookarounds/backrefs — the Java regex ∩ RE2 portable subset), so
# both engines match identical spans. Order matters: emails before
# generic number shapes so an address is never half-eaten.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
)


def redact_pii(text: Column | str) -> Column:
    """Replace email / phone / IPv4 shapes with typed placeholders — the
    standard scrub pass before text reaches a training corpus.

    A chain of ``regexp_replace`` calls, one per pattern: pure per-row
    JVM work, no shuffle, streams through 100 TB at scan speed. Typed
    placeholders (not deletion) preserve sentence structure so
    downstream tokenization/quality signals stay meaningful. The
    pattern list is the deliberately-reviewable core of the operator —
    extend per corpus policy (SSNs, IBANs, ...) keeping to the RE2-safe
    subset for cross-engine replayability.
    """
    c = F.col(text) if isinstance(text, str) else text
    for pat, repl in PII_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return c


def pii_match_count(text: Column | str) -> Column:
    """How many PII spans ``redact_pii`` actually replaces — the audit
    metric (per-source PII density drives crawl-filter policy).

    Counts SEQUENTIALLY on the progressively-redacted text, mirroring
    the replacement chain: a phone-shaped number inside an address that
    the email pattern already consumed must not count twice.
    """
    c = F.col(text) if isinstance(text, str) else text
    total = F.lit(0)
    for pat, repl in PII_PATTERNS:
        total = total + F.size(F.regexp_extract_all(c, F.lit(pat), F.lit(0)))
        c = F.regexp_replace(c, pat, repl)
    return total


def bpe_wrap(tok: Column) -> Column:
    """A token as a space-framed symbol sequence: each character becomes
    a symbol wrapped in its OWN leading and trailing space ("abc" →
    " a  b  c "), so adjacent symbols are separated by two spaces.

    The framing makes a symbol pair a textually unique, non-overlapping
    pattern (" a  b "), which turns the BPE merge rewrite into a plain
    string replace with identical leftmost-non-overlapping semantics in
    every engine — no per-row loop, stays in whole-stage codegen.
    """
    return F.concat(
        F.lit(" "),
        F.concat_ws(
            "  ",
            F.transform(
                F.sequence(F.lit(1), F.length(tok)),
                lambda i: F.substring(tok, i, F.lit(1)),
            ),
        ),
        F.lit(" "),
    )


def bpe_pairs_from_wrapped(s: Column) -> Column:
    """Adjacent symbol pairs ("s1 s2") of a space-framed sequence."""
    syms = F.split(F.trim(s), "  ")
    n = F.size(syms)
    length = F.greatest(n - 1, F.lit(0))
    return F.zip_with(
        F.slice(syms, 1, length), F.slice(syms, 2, length),
        lambda a, b: F.concat_ws(" ", a, b),
    )


def _weighted_vocab(df: DataFrame, text_col: str) -> DataFrame:
    """The corpus as (wrapped distinct token, occurrence count) — the
    word-frequency dictionary every production BPE trainer runs on.

    Pairs never cross whitespace-token boundaries (tokens are wrapped
    independently) and a merge rewrite is a pure function of the token
    string, so every occurrence of a token contributes the SAME pairs at
    every round: counting per distinct token weighted by its occurrence
    count is exactly occurrence-level counting (guide §2.3, aggregate
    before you shuffle). One partial-agg token shuffle up front — the
    only corpus-sized move — then every training round touches vocab-
    sized data (|V| ≪ corpus: a web-scale corpus has ~1e6–1e8 distinct
    tokens against ~1e12+ occurrences). The trainers' outputs are
    bit-identical to occurrence-level counting by construction.
    """
    return (
        df.select(F.explode(tokens(F.col(text_col))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("w"))
        .select(bpe_wrap(F.col("tok")).alias("s"), "w")
    )


def _pair_counts(wrapped: DataFrame) -> DataFrame:
    """Occurrence-weighted adjacent-pair counts of a weighted vocab."""
    return (
        wrapped.select(
            F.explode(bpe_pairs_from_wrapped(F.col("s"))).alias("pair"), "w"
        )
        .groupBy("pair")
        .agg(F.sum("w").alias("n"))
    )


def bpe_merge_rounds(
    df: DataFrame, text_col: str, rounds: int = 3,
) -> DataFrame:
    """``rounds`` iterations of BPE tokenizer training: count adjacent
    symbol pairs corpus-wide, merge the most frequent pair everywhere,
    recount. Returns one row per round: (merge_round, pair, n).

    Runs on the weighted vocab (``_weighted_vocab``): ONE corpus-sized
    partial-agg token shuffle up front, then each round is a vocab-sized
    pair recount (weights multiply occurrences exactly), a 1-row
    TakeOrdered winner broadcast back, and a per-distinct-token
    string-replace rewrite (see bpe_wrap for why replace is safe). No
    collect(): the winner joins back as a broadcast, so the whole
    training loop is a single lazy plan — the repeated vocab subtree is
    one ReusedExchange across rounds, so the corpus is scanned once.

    Ties break (count desc, pair asc) — deterministic across engines.
    """
    # pre-tokenize on whitespace first (pairs never cross word boundaries)
    wrapped = _weighted_vocab(df, text_col)
    out: DataFrame | None = None
    for r in range(1, rounds + 1):
        counts = _pair_counts(wrapped)
        winner = counts.orderBy(F.col("n").desc(), F.col("pair").asc()).limit(1)
        row = winner.select(
            F.lit(r).cast("int").alias("merge_round"), "pair", "n"
        )
        out = row if out is None else out.unionAll(row)
        if r < rounds:
            wrapped = _bpe_rewrite(wrapped, winner)
    assert out is not None
    return out


def _bpe_rewrite(stream: DataFrame, winner: DataFrame) -> DataFrame:
    """Merge the winning pair everywhere in a wrapped-symbol stream: the
    ≤1-row winner broadcasts into a per-row framed string replace (exact
    — see bpe_wrap). All non-`s` columns pass through untouched.

    LEFT join, not crossJoin: a corpus of single-symbol tokens has no
    adjacent pairs at all, so the winner frame is EMPTY — a cross join
    would annihilate the stream (found by the naive-reference property
    test); the left join keeps every row and the rewrite no-ops on the
    NULL pair."""
    keep = [c for c in stream.columns if c not in ("s", "pair", "n")]
    joined = stream.join(
        F.broadcast(winner.select("pair")), F.lit(True), "left"
    )
    rewritten = F.replace(
        F.col("s"),
        F.concat(F.lit(" "), F.replace(F.col("pair"), F.lit(" "), F.lit("  ")), F.lit(" ")),
        F.concat(F.lit(" "), F.replace(F.col("pair"), F.lit(" "), F.lit("")), F.lit(" ")),
    )
    return joined.select(
        *keep,
        F.when(F.col("pair").isNull(), F.col("s"))
        .otherwise(rewritten)
        .alias("s"),
    )


def bpe_merge_rounds_delta(
    df: DataFrame, text_col: str, rounds: int = 6,
    affected_counts: list | None = None,
) -> DataFrame:
    """Deep BPE training with DELTA pair-count maintenance — the
    production trainer shape for many merge rounds. Same output contract
    as ``bpe_merge_rounds`` (one (merge_round, pair, n) row per round,
    (count desc, pair asc) ties), proven equal by test and by a recount
    oracle that shares NO formulation with this path.

    Where the recount version re-counts the whole vocab every round,
    this maintains the (pair, n) table incrementally: only tokens
    CONTAINING the framed winner change any adjacency, so each round
    (a) filters those vocab rows, (b) explodes their pairs before and
    after the rewrite with ∓w occurrence weights, and (c) folds the
    weighted delta into the running counts. Both tables are vocab-sized
    (``_weighted_vocab``: the one corpus-sized shuffle happens up front,
    exactly once), and the per-round delta shuffle is O(affected vocab
    pairs) — shrinking as merges get rarer — instead of O(vocab pairs);
    the asymmetry that makes a 50k-merge tokenizer trainable over
    100 TB. The vocab rewrite itself stays a full map (replace is a
    no-op on untouched rows). A checkpoint EVERY round keeps the two
    iterated lineages (stream + counts) flat — mandatory here, not a
    knob: an un-checkpointed round references the prior counts lineage
    twice (directly in the unionAll and again through winner→aff→delta),
    so sparse checkpointing would grow the plan exponentially in the
    round count. The INITIAL stream and counts are checkpointed too:
    round 1 references them from five subtrees (winner, aff, delta×2,
    rewrite), which un-checkpointed meant five corpus re-explosions
    (measured: 8.8 s of the round-10 query's 10.7 s build at sf0.1).

    ``affected_counts`` (diagnostic): pass a list to receive the
    per-round affected VOCAB-row count — the quantity that BOUNDS each
    round's delta shuffle and whose decay as merges rarify is the whole
    argument for the delta design (tools/bench_bpe_decay.py measures it
    at production round counts). Counting forces one extra action per
    round against the checkpointed stream; leave None in production.
    """
    wrapped = checkpoint(_weighted_vocab(df, text_col), eager=False)
    counts = checkpoint(_pair_counts(wrapped), eager=False)
    out: DataFrame | None = None
    for r in range(1, rounds + 1):
        winner = counts.orderBy(F.col("n").desc(), F.col("pair").asc()).limit(1)
        row = winner.select(
            F.lit(r).cast("int").alias("merge_round"), "pair", "n"
        )
        out = row if out is None else out.unionAll(row)
        if r == rounds:
            break
        aff = (
            wrapped.crossJoin(
                F.broadcast(winner.select(F.col("pair").alias("wpair")))
            )
            .withColumn(
                "framed",
                F.concat(
                    F.lit(" "),
                    F.replace(F.col("wpair"), F.lit(" "), F.lit("  ")),
                    F.lit(" "),
                ),
            )
            .filter(F.col("s").contains(F.col("framed")))
        )
        if affected_counts is not None:
            affected_counts.append(aff.count())
        rewritten = aff.select(
            F.replace(
                F.col("s"),
                F.col("framed"),
                F.concat(
                    F.lit(" "),
                    F.replace(F.col("wpair"), F.lit(" "), F.lit("")),
                    F.lit(" "),
                ),
            ).alias("s"),
            "w",
        )
        delta = (
            aff.select(
                F.explode(bpe_pairs_from_wrapped(F.col("s"))).alias("pair"),
                (-F.col("w")).alias("dw"),
            )
            .unionAll(
                rewritten.select(
                    F.explode(bpe_pairs_from_wrapped(F.col("s"))).alias("pair"),
                    F.col("w").alias("dw"),
                )
            )
            .groupBy("pair")
            .agg(F.sum("dw").alias("n"))
        )
        counts = (
            counts.unionAll(delta)
            .groupBy("pair")
            .agg(F.sum("n").alias("n"))
            .filter(F.col("n") > 0)
        )
        wrapped = checkpoint(_bpe_rewrite(wrapped, winner), eager=False)
        counts = checkpoint(counts, eager=False)
    assert out is not None
    return out


def bpe_symbol_count(s: Column | str) -> Column:
    """Symbols in a wrapped stream row: split on the double-space frame
    (DuckDB mirror: len(string_split(trim(s), '  ')))."""
    c = F.col(s) if isinstance(s, str) else s
    return F.size(F.split(F.trim(c), "  "))


def bpe_apply(
    df: DataFrame, text_col: str, id_col: str, rounds: int = 3,
) -> DataFrame:
    """Train ``rounds`` BPE merges corpus-wide and APPLY them to every
    document — tokenizer training followed by tokenizer application, the
    step a real pipeline runs over the whole corpus after training.
    Returns (doc_id, char_syms, bpe_syms, compression_ppm): symbol
    counts per document before/after the merges and the exact-integer
    compression ratio.

    One stream does double duty: pair counts aggregate over the SAME
    (doc, wrapped-token) rows the rewrites transform (counts ignore
    doc_id, so the winner sequence is identical to bpe_merge_rounds —
    proven by the shared oracle machinery). Per round: one partial-agg
    shuffle of (pair, count) + a 1-row winner broadcast into the
    rewrite; the final per-doc agg is the only doc-keyed shuffle. No
    collect, no driver loop — a single lazy plan, same 100 TB shape as
    bpe_merge_rounds.
    """
    stream = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.col(text_col))).alias("tok"),
    ).select("doc_id", bpe_wrap(F.col("tok")).alias("s"))
    stream = stream.select(
        "doc_id", "s", bpe_symbol_count("s").alias("n0")
    )
    for _ in range(rounds):
        counts = (
            stream.select(F.explode(bpe_pairs_from_wrapped(F.col("s"))).alias("pair"))
            .groupBy("pair")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        winner = counts.orderBy(F.col("n").desc(), F.col("pair").asc()).limit(1)
        stream = _bpe_rewrite(stream, winner)
    return (
        stream.groupBy("doc_id")
        .agg(
            F.sum("n0").alias("char_syms"),
            F.sum(bpe_symbol_count("s")).alias("bpe_syms"),
        )
        .select(
            "doc_id", "char_syms", "bpe_syms",
            F.expr(
                "(CAST(1000000 AS BIGINT) * bpe_syms) DIV char_syms"
            ).alias("compression_ppm"),
        )
    )
