"""Text-analysis column builders — JVM-side expressions only (no UDFs).

Training-data-pipeline primitives over a document/text column: token
counting, language ID (stopword heuristic), quality scoring, and
64-bit document fingerprints. Everything here compiles to built-in
Catalyst expressions (whole-stage codegen, predicate-pushdown friendly)
and has an exact DuckDB SQL mirror in ``__spark_entry__.oracle_sql`` —
md5 is the shared cross-engine hash primitive.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# language → stopword alternation (word-boundary regex, shared with SQL)
LANG_STOPWORDS: dict[str, str] = {
    "en": r"\b(the|a|an|of|and|to|in|is|was)\b",
    "de": r"\b(der|die|das|und|ist|ein|zu|den)\b",
    "es": r"\b(el|la|los|las|y|es|un|una|de)\b",
    "fr": r"\b(le|la|les|et|est|un|une|du|des)\b",
    "zh": r"(的|是|在|了|和|有)",
}


def norm_text(col: Column) -> Column:
    """lower + collapse whitespace + trim — the dedup normalization."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def ws_token_count(col: Column) -> Column:
    """Whitespace token count."""
    t = F.trim(col)
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))


def bpe_ish_token_count(col: Column) -> Column:
    """BPE-ish subword count: alnum runs are split into ≤4-char pieces,
    every other non-space char is one token. Regex shared with the oracle:
    ``[A-Za-z0-9]{1,4}|[^A-Za-z0-9\\s]``."""
    return F.size(F.regexp_extract_all(col, F.lit(r"[A-Za-z0-9]{1,4}|[^A-Za-z0-9\s]"), F.lit(0)))


def stopword_hits(col: Column, lang: str) -> Column:
    return F.size(F.regexp_extract_all(col, F.lit(LANG_STOPWORDS[lang]), F.lit(0)))


def lang_id(col: Column) -> Column:
    """Argmax language by stopword-hit count; ties go to the alphabetically
    first code; 'und' when nothing matches. Expressed as a CASE chain in
    alphabetical order so the DuckDB oracle can mirror it verbatim."""
    langs = sorted(LANG_STOPWORDS)
    hits = {lg: stopword_hits(col, lg) for lg in langs}
    mx = F.greatest(*hits.values())
    expr = F.when(mx == 0, F.lit("und"))
    for lg in langs:
        expr = expr.when(hits[lg] == mx, F.lit(lg))
    return expr


def punct_ratio(col: Column) -> Column:
    n_punct = F.size(F.regexp_extract_all(col, F.lit(r"[^\w\s]"), F.lit(0)))
    return n_punct / F.greatest(F.length(col), F.lit(1))


def quality_score(col: Column) -> Column:
    """Deterministic heuristic in [0, ~1]: rewards mid-length docs, real
    words, low punctuation noise. Rounded to 4 decimals for cross-engine
    hash stability."""
    length_term = F.least(F.length(col) / F.lit(500.0), F.lit(1.0))
    stop_term = F.least(stopword_hits(col, "en") / F.greatest(ws_token_count(col), F.lit(1)) * 4.0, F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(punct_ratio(col) * 5.0, F.lit(1.0))
    return F.round(0.4 * length_term + 0.3 * stop_term + 0.3 * punct_term, 4)


def md5_int64(col: Column) -> Column:
    """First 15 hex digits of md5 as a non-negative int64 — the shared
    cross-engine 60-bit hash. DuckDB mirror:
    ``('0x' || substr(md5(x), 1, 15))::BIGINT``."""
    return F.conv(F.substring(F.md5(col.cast("binary")), 1, 15), 16, 10).cast("bigint")


def fingerprint64(col: Column) -> Column:
    """Document fingerprint: md5-int64 of normalized text."""
    return md5_int64(norm_text(col))


def hash_split(id_col: Column) -> Column:
    """Deterministic dataset split ('train'|'dev'|'test') by content hash.

    The standard crawl-scale alternative to random splits: stable across
    runs, partitionings and engines (md5-derived bucket 0-99), so downstream
    training jobs see an identical split without coordinating state. The
    reference splits positionally (``train.py:102-106``, operator P1);
    positional splits don't distribute, hash splits do."""
    bucket = F.pmod(md5_int64(id_col), F.lit(100))
    # 80/10/10; the doc_splits oracle SQL repeats the 80 and 90 cuts
    return (
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("dev"))
        .otherwise(F.lit("test"))
    )


def tfidf_terms(docs):
    """(term, tf, df, tfidf) over whitespace words of the normalized
    ``text`` of (doc_id, text) rows.

    tf = total occurrences, df = #docs containing the term,
    tfidf = tf · ln(N/df). All built-in expressions: explode → two
    aggregations (both map-side combined); the heavy exploded table never
    shuffles more than once."""
    from ..partitioning import spread_small_scan

    words = spread_small_scan(docs.select("doc_id", "text")).select(
        F.col("doc_id"), F.explode(F.split(norm_text(F.col("text")), " ")).alias("term")
    ).where(F.col("term") != "")
    n_docs = docs.count()
    stats = words.groupBy("term").agg(
        F.count(F.lit(1)).alias("tf"),
        F.countDistinct("doc_id").alias("df"),
    )
    return stats.withColumn(
        "tfidf", F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6)
    )


def winnow_fingerprint(col: Column) -> Column:
    """Rolling-window document fingerprint: min hash over character
    8-grams sampled every 4 positions of the
    normalized text (winnowing-style min-sampling — the rolling-hash
    fingerprint family, vs ``fingerprint64``'s whole-document hash). Content-defined: equal texts
    always collide; long shared runs collide with high probability. Pure
    built-in expressions, mirrored verbatim (8, 7, 4) in the
    doc_winnow_fingerprint oracle SQL."""
    t = norm_text(col)
    positions = F.sequence(F.lit(1), F.greatest(F.length(t) - F.lit(7), F.lit(1)), F.lit(4))
    return F.array_min(F.transform(positions, lambda i: md5_int64(F.substring(t, i, 8))))


# the window and overlap the chunking query runs at (the oracle reads them)
CHUNK_TOKENS = 32
CHUNK_OVERLAP = 8


def chunk_documents(docs):
    """Split each document into ``CHUNK_TOKENS``-token overlapping
    whitespace-token windows — the chunking step an LLM training pipeline runs before
    packing/tokenizing, kept entirely inside Catalyst (split → sequence →
    posexplode → slice → concat_ws; no UDF).

    Windows start every ``CHUNK_TOKENS - CHUNK_OVERLAP`` tokens; the last window
    may be short but is never empty; documents shorter than one window
    yield exactly one chunk. Returns (doc_id, chunk_id, n_tokens,
    chunk_text) with chunk_id 0-based in document order — deterministic,
    so chunk identity is stable across runs/partitionings.

    Scale shape: one narrow pass; output rows ≈ corpus_tokens / stride per
    doc, produced by generator-style posexplode (no driver or whole-doc
    array shuffle — the split array lives only inside the projection)."""
    chunk_tokens = CHUNK_TOKENS
    stride = chunk_tokens - CHUNK_OVERLAP
    w = F.split(norm_text(F.col("text")), " ")
    n = F.size(w)
    # number of windows: 1 + ceil(max(n - chunk, 0) / stride)
    n_chunks = F.lit(1) + F.ceil(
        F.greatest(n - F.lit(chunk_tokens), F.lit(0)) / F.lit(stride)
    ).cast("int")
    exploded = docs.select(
        F.col("doc_id"),
        w.alias("_w"),
        F.posexplode(F.sequence(F.lit(0), n_chunks - F.lit(1))).alias(
            "chunk_id", "_start_idx"
        ),
    )
    return exploded.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.least(
            F.lit(chunk_tokens),
            F.size("_w") - F.col("chunk_id") * F.lit(stride),
        )
        .cast("int")
        .alias("n_tokens"),
        F.concat_ws(
            " ", F.slice("_w", F.col("chunk_id") * F.lit(stride) + 1, chunk_tokens)
        ).alias("chunk_text"),
    )


def nfc_normalize(col: Column) -> Column:
    """Unicode NFC normalization as an Arrow-vectorized pandas UDF — the
    standard crawl-text cleanup (decomposed accents, compatibility forms
    from copy-pasted PDFs) that makes exact dedup and tokenization behave:
    'cafe' + COMBINING ACUTE and 'café' must fingerprint identically.
    Catalyst has no NFC builtin, so this is one of the few legitimate
    Python column functions in the repo (batch-vectorized via Arrow, never
    per-row Python). DuckDB mirror: ``nfc_normalize``."""
    import unicodedata

    import pandas as pd

    from pyspark.sql.types import StringType

    def _nfc_fn(s):
        return s.map(
            lambda x: unicodedata.normalize("NFC", x) if x is not None else None
        )

    # real type objects, not strings: this module uses `from __future__
    # import annotations`, which would stringify inline hints and break
    # pandas_udf's signature inference
    _nfc_fn.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return F.pandas_udf(_nfc_fn, StringType())(col)


def repetition_stats(docs):
    """(doc_id, n_grams, dup_gram_ratio, top_word_share) — Gopher-style
    WITHIN-document repetition signals (Rae et al. 2021 §A1.1: docs whose
    text is dominated by repeated fragments or a single token are
    low-quality): the fraction of word-trigram occurrences that are
    duplicates of an earlier occurrence, and the share of the document
    taken by its single most frequent word. Docs too short for an n-gram
    have dup_gram_ratio 0; empty/whitespace-only docs score 0 on both (an
    empty doc is not "maximally repetitive").

    Scale shape: pure per-row Catalyst expressions (split / transform /
    array_distinct / filter) — no UDF, no shuffle, whole-stage codegen;
    the top-word scan is O(distinct_words · words) per row, trivial next
    to the scan that reads the text."""
    from pyspark.sql import functions as F

    n = 3  # the doc_repetition oracle SQL spells the same trigrams
    base = docs.select(
        F.col("doc_id"), F.split(norm_text(F.col("text")), " ").alias("_w")
    ).select(
        "doc_id",
        "_w",
        F.expr(
            f"CASE WHEN size(_w) >= {n} THEN "
            f"transform(sequence(1, size(_w) - {n - 1}),"
            f" i -> concat_ws(' ', slice(_w, i, {n}))) "
            "ELSE array() END"
        ).alias("_sh"),
    )
    n_grams = F.size("_sh")
    dup_ratio = F.when(n_grams == 0, F.lit(0.0)).otherwise(
        F.round((n_grams - F.size(F.array_distinct("_sh"))) / n_grams, 4)
    )
    # split("") yields [""] (size 1), so the empty-doc guard must test the
    # rejoined content, not the array size — otherwise an empty doc scores
    # top_word_share 1.0 and a repetition filter would flag it
    top_share = F.when(F.concat_ws(" ", "_w") == "", F.lit(0.0)).otherwise(
        F.round(
            F.array_max(
                F.transform(
                    F.array_distinct("_w"),
                    lambda x: F.size(F.filter("_w", lambda y: y == x)),
                )
            )
            / F.size("_w"),
            4,
        )
    )
    return base.select(
        "doc_id",
        n_grams.cast("int").alias("n_grams"),
        dup_ratio.alias("dup_gram_ratio"),
        top_share.alias("top_word_share"),
    )


# vocab_edit_pairs reach: 1 or 2 edits
VOCAB_EDIT_MAX_DIST = 2


def vocab_edit_pairs(docs):
    """(term_a, term_b, dist, df_a, df_b) — corpus-vocabulary term pairs
    within Levenshtein distance ``max_dist`` (``VOCAB_EDIT_MAX_DIST``, 1 or
    2), with document-frequency marginals: the typo/variant-mining
    primitive behind alias discovery and OCR/typo normalization (a low-df
    term within distance 1-2 of a high-df term is a correction candidate; a
    pair of comparable df is a spelling variant worth an alias edge).

    Scale shape — SymSpell deletion-signature blocking, pure Catalyst: each
    term emits its deletion neighborhood (the term, every 1-deletion, and —
    at ``max_dist=2`` — every 2-deletion; ≤ 1+L+L² short strings per term,
    generated with ``transform``/``sequence`` expressions, no UDF).
    Candidate pairs come from an equi-join on shared signatures — two terms
    within edit distance d ALWAYS share a ≤d-deletion signature
    (deletion-neighborhood completeness, SymSpell's guarantee for
    insert/delete/substitute edits), so the exact ``levenshtein`` verify
    never misses a pair while the join never goes O(V²). The oracle
    brute-forces V² on the small test vocabulary — proving blocking+verify
    ≡ exhaustive."""
    from pyspark.sql import functions as F  # local: keep module header lean

    from ..partitioning import spread_small_scan

    max_dist = VOCAB_EDIT_MAX_DIST
    vocab = (
        spread_small_scan(docs.select("text"))
        .select(F.explode(F.split(norm_text(F.col("text")), " ")).alias("term"))
        .where(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    dels1 = (
        "transform(sequence(1, length(term)),"
        " i -> concat(substring(term, 1, i-1),"
        " substring(term, i+1, length(term))))"
    )
    if max_dist == 1:
        sigs = f"array_distinct(concat(array(term), {dels1}))"
    elif max_dist == 2:
        dels2 = (
            f"flatten(transform({dels1},"
            " x -> transform(sequence(1, length(x)),"
            " j -> concat(substring(x, 1, j-1), substring(x, j+1, length(x))))))"
        )
        sigs = f"array_distinct(concat(array(term), {dels1}, {dels2}))"
    else:
        raise ValueError("max_dist must be 1 or 2")
    from ..cache import cached

    # cached: BOTH sides of the candidate self-join read the exploded
    # signature table — uncached, the (up to L²-per-term) deletion
    # neighborhood generation runs twice.
    # The EMPTY signature is excluded from blocking: every term of length
    # <= max_dist emits it, so on vocabularies dense in 1-2 char tokens all
    # short terms would collapse into one giant block and the candidate
    # join degenerates toward O(V_short²) wasted verify work (round-4
    # ADVICE). Losing "" is lossless because only len<=max_dist terms can
    # produce it, and any two such terms are ALWAYS within max_dist (align
    # with <= max(len) <= max_dist edits) — they are emitted directly below
    # as guaranteed-true pairs (output-sized work, no verification waste).
    sig_rows = cached(
        vocab.select("term", "df", F.explode(F.expr(sigs)).alias("sig")).where(
            F.col("sig") != ""
        )
    )
    a = sig_rows.select(
        F.col("sig"), F.col("term").alias("term_a"), F.col("df").alias("df_a")
    )
    b = sig_rows.select(
        F.col("sig"), F.col("term").alias("term_b"), F.col("df").alias("df_b")
    )
    cand = a.join(b, "sig").where(F.col("term_a") < F.col("term_b")).select(
        "term_a", "term_b", "df_a", "df_b"
    )
    short = cached(vocab.where(F.length("term") <= max_dist))
    direct = (
        short.select(F.col("term").alias("term_a"), F.col("df").alias("df_a"))
        .join(
            short.select(F.col("term").alias("term_b"), F.col("df").alias("df_b")),
            F.col("term_a") < F.col("term_b"),
        )
        .select("term_a", "term_b", "df_a", "df_b")
    )
    return (
        cand.unionAll(direct)
        .distinct()
        .withColumn("dist", F.levenshtein("term_a", "term_b"))
        .where(F.col("dist") <= max_dist)
        .select(
            "term_a",
            "term_b",
            F.col("dist").cast("int").alias("dist"),
            F.col("df_a").cast("long").alias("df_a"),
            F.col("df_b").cast("long").alias("df_b"),
        )
    )
