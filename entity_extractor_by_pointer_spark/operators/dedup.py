"""Deduplication operators for large-scale training-data pipelines.

Five strategies, all shuffle-architected for the 100 TB design point and all
expressed (where possible) as built-in DataFrame ops so Catalyst keeps them
in whole-stage codegen:

- **exact**: md5 fingerprint of normalized text → groupBy. Map-side partial
  aggregation makes the shuffle carry one row per (fingerprint, partition).
- **n-gram Jaccard**: word-3-gram shingles; candidate pairs are generated by
  an equi-join on shingle (only docs sharing ≥1 shingle ever meet — the
  blocking step that replaces the O(n²) cross join), and the join's pair
  aggregate counts each intersection exactly. The same engine scores
  directional containment; neither drops a pair sharing a shingle.
- **MinHash + LSH**: K md5-derived hash functions → per-doc signature;
  signatures sliced into bands; docs colliding on a full band become
  candidate pairs (equi-join on band hash — again no cross join); exact
  Jaccard verifies. This is the crawl-scale near-dup path: cost is
  O(n·K + candidate pairs).
- **SimHash**: W-bit signature from md5 word hashes; near-dups = signature
  pairs within Hamming distance d, candidates blocked on signature bands.
- **embedding cosine**: exact pairwise cosine above a threshold (baseline);
  :func:`embedding_cosine_pairs_blocked` is the LSH-bucketed scale path
  (its seeded hyperplanes come from ``similarity.lsh_planes``).

The md5-int64 primitive is shared with DuckDB so every operator has an exact
SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import cached, fits_broadcast
from ..functions.textstats import fingerprint64, md5_int64, norm_text
from .similarity import _dot, _norm, lsh_planes

NGRAM_N = 3
MINHASH_K = 16
MINHASH_BANDS = 4  # 4 rows per band
# 60 bits = the full width of the shared cross-engine md5-int64 hash; at
# max_hamming=3 the pigeonhole blocking uses 4 blocks of 15 bits → 32k
# buckets per block, so candidate sets stay ~n/32k per block even at
# billions of docs (round-1's 32-bit/8-bit-block variant collapsed to 256
# buckets per block — a crawl-scale join explosion).
SIMHASH_BITS = 60
# the scorers accept on round(score, 4) ≥ τ, which admits score ≥ τ - 5e-5;
# every candidate-pruning inequality must therefore use τ - ROUND4_EPS
# (slightly wider than the exact 0.5e-4 HALF_UP boundary to also absorb
# float evaluation noise) so no pair inside the rounding window is dropped
ROUND4_EPS = 1e-4
# the exact path's post-size-cut pair aggregate gets a widened exchange
# (PAIR_AGG_WIDE_FACTOR x defaultParallelism reducers) once the corpus
# census clears this row count — below it the extra exchange is pure
# overhead (measured both ways; see _pair_intersections)
PAIR_AGG_WIDE_DOCS = 20_000
PAIR_AGG_WIDE_FACTOR = 4
# the thresholds the near-dup queries run at; each operator reads its own at
# call time, and the DuckDB oracles in __spark_entry__ read the same names
JACCARD_THRESHOLD = 0.8  # ngram_jaccard_pairs and minhash_lsh_pairs
CONTAINMENT_THRESHOLD = 0.9
MINHASH_EST_THRESHOLD = 0.5
SIMHASH_MAX_HAMMING = 3
NEARDUP_COS_THRESHOLD = 0.95  # embedding_cosine_pairs_blocked


def dedup_exact(docs: DataFrame) -> DataFrame:
    """Exact dedup groups: (fingerprint, keep_id = min id, n_dups).

    (No spread_small_scan here: one regex+md5 per doc is light enough that
    the repartition exchange measured SLOWER than the single-task scan —
    same result as doc_splits and the image-dims decode.)"""
    fp = docs.select(F.col("doc_id"), fingerprint64(F.col("text")).alias("fingerprint"))
    return (
        fp.groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def _shingle_arr_sql(n: int, positional: bool = False) -> str:
    """SQL for a doc's distinct word-n-gram shingle ARRAY over the word-hash
    array ``wh`` — the one place the shingle construction lives: shingle i
    is the xxhash64 of the n word hashes starting at word i. Short docs
    (< n words) yield an EMPTY array (sequence(0, -1) would be DESCENDING),
    matching the oracle's empty generate_series(1, 0). ``positional=True``
    skips the array_distinct so element i is the shingle STARTING at word
    i — the form a posexplode can rebuild a representative string from;
    its value set per doc is identical by construction (same ``combine``
    expression)."""
    combine = ", ".join(f"wh[i+{j}]" if j else "wh[i]" for j in range(n))
    dedup_open, dedup_close = ("", "") if positional else ("array_distinct(", ")")
    return (
        f"CASE WHEN size(wh) >= {n} THEN "
        f"{dedup_open}transform(sequence(0, size(wh) - {n}),"
        f" i -> xxhash64({combine})){dedup_close} "
        f"ELSE array() END"
    )


def _hashed_shingle_arrays(docs: DataFrame, n: int = NGRAM_N) -> DataFrame:
    """CACHED (doc_id, sharr) — each doc's distinct word-n-gram shingles as an
    array of 8-byte xxhash64 values, the one shingle representation of the
    near-dup family (n = ``NGRAM_N`` for the pair engine, MinHash and
    boilerplate; n = ``curation.CONTAM_N`` for contamination). Every
    consumer only compares shingles for equality (MinHash rebuilds the
    string of each DISTINCT hash for its md5 digests), so the hash replaces
    the ~25-byte string everywhere (guide §2.3 narrow types). A collision
    needs ~2^32 distinct shingles to become likely, and could only ADD a
    match (two distinct shingles read as equal), never lose one; at both
    widths every near-dup query matches its string-shingle oracle
    hash-exactly at sf0.001, sf0.01 and sf0.1.

    The compact ARRAY table (one row per doc) is what gets cached, and
    consumers explode from the InMemoryRelation. This is load-bearing, not
    a convenience: if an explode sits directly on the projection,
    InferFiltersFromGenerate derives `size(arr) > 0` and filter pushdown
    inlines the whole regex+split+hash expression tree into a NON-CODEGEN
    Filter above the scan — the array is then rebuilt interpreted several
    times per row (~9x slower measured at sf1.0). The cache is an
    optimizer barrier: the inferred filter lands on the cached attribute
    instead, where size() is an O(1) header read."""
    from ..partitioning import spread_small_scan

    words = spread_small_scan(docs.select("doc_id", "text")).select(
        F.col("doc_id"), F.split(norm_text(F.col("text")), " ").alias("w")
    )
    # hash each WORD once, then combine n word-hashes per shingle
    # (multi-arg xxhash64 chains the values) instead of building and
    # hashing a concat string per position: ~3x faster measured at sf1.0
    # (0.6s vs 1.6-4.3s for the array build). Equality classes are
    # identical to the string shingles — words contain no spaces, so the
    # space-joined concat is injective on word n-tuples, and the
    # (occurrence, distinct) counts of both hashings match exactly at
    # every test SF (verified: 2,620,593 / 27,865 at sf1.0).
    wh = words.select("doc_id", F.expr("transform(w, x -> xxhash64(x))").alias("wh"))
    return cached(wh.select("doc_id", F.expr(_shingle_arr_sql(n)).alias("sharr")))


def _attach_pair_arrays(cand: DataFrame, arr_df: DataFrame) -> DataFrame:
    """Join an (id_a, id_b, ...) candidate frame with the cached per-doc
    hash-array table on both sides, adding ``_sa``/``_sb`` — the shared
    exact-verify shape (the candidate list is the small side of both
    joins, so the array table never shuffles)."""
    va = arr_df.select(F.col("doc_id").alias("id_a"), F.col("sharr").alias("_sa"))
    vb = arr_df.select(F.col("doc_id").alias("id_b"), F.col("sharr").alias("_sb"))
    return cand.join(va, "id_a").join(vb, "id_b")


def ngram_jaccard_pairs(docs: DataFrame) -> DataFrame:
    """(id_a, id_b, jaccard) for pairs with Jaccard ≥ ``JACCARD_THRESHOLD``.

    Blocking join on shingle; Jaccard on distinct-shingle sets. Every pair
    sharing ≥1 shingle meets in the blocking join, so the pair set and the
    scores are the oracle's exactly. Skew from common shingles is left to
    AQE's skew join; the size-ratio prune inside the join is a
    no-false-prune inequality, so it cuts work without losing a pair.
    """
    # the prune must be valid for the ROUNDED acceptance test the final
    # filter (and the oracle) applies — round(J, 4) ≥ τ admits
    # J ≥ τ - 5e-5, so it uses the slackened τε, not τ. Without the slack,
    # a pair sitting in the 1e-4 rounding window (e.g. J = 0.79998 at
    # τ = 0.8) could be dropped that the oracle keeps.
    threshold = JACCARD_THRESHOLD
    # J ≥ τε forces min(n_a,n_b) ≥ τε·max(n_a,n_b): prune inside the join
    inter = _pair_intersections(docs, size_ratio=threshold - ROUND4_EPS)
    return (
        inter.withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 4
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _pair_intersections(docs: DataFrame, size_ratio: float | None = None) -> DataFrame:
    """Shared shingle-overlap engine for the set-similarity family
    (:func:`ngram_jaccard_pairs`, :func:`containment_pairs`): returns
    (id_a, id_b, n_inter, n_a, n_b) for every id_a < id_b pair sharing ≥1
    shingle (and, with ``size_ratio``, passing the size-ratio prune), with
    EXACT intersection counts from one blocking self-join on shingle — the
    plan the DuckDB oracles compute.

    ``size_ratio`` (Jaccard only) cuts size-incompatible pairs inside the
    join. No bound is applied after the pair aggregate: there it would sit
    in the same Filter as the caller's per-pair predicate, which already
    implies it, and cut no row of any exchange or aggregate."""
    # (id, n_sh, shingle-hash) rows: the per-doc set size rides along with
    # every shingle row, so pair sizes fall out of the blocking join itself
    # and the two 114M-row size joins of the r5 engine disappear — the
    # sizes become extra grouping keys (functionally dependent on the ids,
    # so the groups are unchanged). The helper caches the per-doc ARRAY
    # table; the explode below reads that cache (cheap).
    arr_df = _hashed_shingle_arrays(docs)
    sh = arr_df.select(
        "doc_id",
        F.size("sharr").alias("n_sh"),
        F.explode("sharr").alias("shingle"),
    )
    a, b = sh.alias("a"), sh.alias("b")
    joined = a.join(b, "shingle").where(F.col("a.doc_id") < F.col("b.doc_id"))
    if size_ratio is not None:
        # J ≥ τ ⟹ inter ≥ τ·max(n_a,n_b) and inter ≤ min(n_a,n_b),
        # hence min ≥ τ·max: size-incompatible pairs can never qualify.
        # Applied INSIDE the blocking join, before the pair aggregate —
        # at sf1.0 this drops the agg input from 114M to 41M groups
        # with provably no false prune.
        joined = joined.where(
            (F.col("b.n_sh") >= F.lit(size_ratio) * F.col("a.n_sh"))
            & (F.col("a.n_sh") >= F.lit(size_ratio) * F.col("b.n_sh"))
        )
    # the census (count == docs.count(), and the cache fill) runs only for
    # the size-cut shape: containment never widens, so it pays no job
    if size_ratio is not None and arr_df.count() > PAIR_AGG_WIDE_DOCS:
        # widen ONLY this aggregate's exchange: at tens of thousands of
        # docs the post-size-cut pair aggregate is the query's dominant
        # stage (tens of millions of groups) and `shuffle.partitions`
        # (= cores locally) starves it — 4x reducers measured 7.6->4.7s
        # at 50k docs while every other exchange in the query stays at
        # the session default (the global-128 experiment that slowed 5
        # other queries stays rejected). An explicit keyed repartition
        # is AQE-coalesce-proof, and the width tracks the cluster via
        # defaultParallelism. Gated on the census: small corpora measured
        # SLOWER with the extra exchange (1.6->2.6s at 5k docs), and the
        # no-size-cut shape
        # (containment) measured slower at every width — both keep the
        # plain map-side-partial aggregate.
        joined = joined.repartition(
            joined.sparkSession.sparkContext.defaultParallelism
            * PAIR_AGG_WIDE_FACTOR,
            F.col("a.doc_id"),
            F.col("b.doc_id"),
        )
    return joined.groupBy(
        F.col("a.doc_id").alias("id_a"),
        F.col("b.doc_id").alias("id_b"),
        F.col("a.n_sh").alias("n_a"),
        F.col("b.n_sh").alias("n_b"),
    ).agg(F.count(F.lit(1)).alias("n_inter"))


def containment_pairs(docs: DataFrame) -> DataFrame:
    """DIRECTIONAL near-dup pairs (id_a, id_b, containment) with
    ``containment = |shingles(a) ∩ shingles(b)| / |shingles(a)| ≥ CONTAINMENT_THRESHOLD``
    — the asymmetric complement of Jaccard. A short page wholly quoted
    inside a long aggregator page has containment ≈ 1 in one direction but
    a LOW Jaccard (the union is dominated by the long page), so symmetric
    dedup never flags it; containment is the standard signal for
    sub-document duplication (quotes, syndication, page supersets) in
    training-data curation.

    Both directions are emitted when both qualify. Shares the exact
    :func:`_pair_intersections` engine with Jaccard — same blocking join,
    with no size-ratio prune (a short doc wholly inside a long one is
    exactly the pair containment exists to find)."""
    threshold = CONTAINMENT_THRESHOLD
    inter = _pair_intersections(docs)
    # one explode emits both directed rows per pair — a fwd ∪ rev of two
    # selects evaluated the whole engine subtree twice (blocking join and
    # all) for one count
    both = inter.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a"),
                    F.col("id_b"),
                    F.round(F.col("n_inter") / F.col("n_a"), 4).alias("containment"),
                ),
                F.struct(
                    F.col("id_b").alias("id_a"),
                    F.col("id_a").alias("id_b"),
                    F.round(F.col("n_inter") / F.col("n_b"), 4).alias("containment"),
                ),
            )
        ).alias("p")
    ).select("p.*")
    return both.where(F.col("containment") >= threshold)


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, mh_0 … mh_{k-1}), k = ``MINHASH_K``: min over shingles of
    seeded md5-derived hashes.

    One md5 digest yields TWO independent 60-bit hash functions (hex chars
    1-15 and 17-31), so k functions cost k/2 digests — the md5 is the
    dominant per-shingle cost. Mirrored exactly in the DuckDB oracle SQL.

    The k/2 digests are computed once per DISTINCT shingle (a dim keyed on
    the word-tuple xxhash64), not once per (doc, shingle) row: on repetitive
    corpora the distinct vocabulary is orders of magnitude smaller than the
    occurrence table (sf1.0: 27.9k distinct vs 2.6M rows — a 94x cut in md5
    work), and identical strings hash identically so the per-doc minima are
    unchanged. The per-doc rows explode the cached
    :func:`_hashed_shingle_arrays` table, the one the pair engine and the
    LSH verify read. The vocabulary census decides only whether the
    representative join and the digest-dim join carry a broadcast hint:
    under ``cache.BROADCAST_ROWS_MAX`` rows they do, above it they are
    plain joins."""
    from ..partitioning import spread_small_scan

    k = MINHASH_K
    # the per-doc rows only need an 8-byte join key, so per-occurrence
    # STRING shingles are never built (the 2.6M interpreted concat_ws
    # builds were the pass's dominant cost) — the census runs over cheap
    # word-tuple xxhash64 rows, keeping ONE representative (doc,
    # word-offset) per distinct hash, and only the ~1/100th distinct
    # vocabulary gets its string rebuilt for the md5 digests.
    # explode_outer + notnull dodges the InferFiltersFromGenerate trap (a
    # plain explode gains an inferred size()>0 filter whose pushdown
    # inlines the whole array build interpreted above the scan).
    # _th (an xxhash64 of the text) tells apart rows that share a doc id, so
    # the representative join below picks exactly one text
    words = spread_small_scan(docs.select("doc_id", "text")).select(
        F.col("doc_id"),
        F.xxhash64("text").alias("_th"),
        F.split(norm_text(F.col("text")), " ").alias("w"),
    )
    wh_words = words.select(
        "doc_id", "_th", "w", F.expr("transform(w, x -> xxhash64(x))").alias("wh")
    )
    occ = wh_words.select(
        "doc_id",
        "_th",
        F.posexplode_outer(
            F.expr(_shingle_arr_sql(NGRAM_N, positional=True))
        ).alias("pos", "_hsh"),
    ).where(F.col("_hsh").isNotNull())
    reps = cached(
        occ.groupBy("_hsh").agg(F.min(F.struct("doc_id", "_th", "pos")).alias("r"))
    )
    hint = F.broadcast if fits_broadcast(reps.count()) else (lambda df: df)
    # rebuild one string per DISTINCT shingle: join the (hash, doc, text
    # hash, offset) representatives back onto the word arrays (equal
    # strings share a hash, so any representative yields the same string —
    # and therefore the same digests)
    rep_rows = reps.select(
        "_hsh",
        F.col("r.doc_id").alias("doc_id"),
        F.col("r._th").alias("_th"),
        F.col("r.pos").alias("pos"),
    )
    vocab = hint(rep_rows).join(words, ["doc_id", "_th"]).select(
        "_hsh",
        F.concat_ws(" ", F.slice("w", F.col("pos") + 1, NGRAM_N)).alias("shingle"),
    )
    # one md5 digest per seed s, split into two 60-bit halves (the
    # projection's subexpression elimination computes each digest once)
    halves = []
    for s in range(k // 2):
        d = f"md5(CAST(concat(shingle, '#{s}') AS BINARY))"
        halves += [
            f"CAST(conv(substring({d}, {start}, 15), 16, 10) AS BIGINT) AS h_{2 * s + i}"
            for i, start in enumerate((1, 17))
        ]
    dim = vocab.selectExpr("_hsh", *halves)
    rows = (
        _hashed_shingle_arrays(docs)
        .select("doc_id", F.explode("sharr").alias("_hsh"))
        .join(hint(dim), "_hsh")
    )
    hashed = rows.select("doc_id", *[F.col(f"h_{i}") for i in range(k)])
    minima = ", ".join(f"min(h_{i}) AS mh_{i}" for i in range(k))
    return (
        hashed.groupBy("doc_id").agg(F.expr(f"struct({minima})").alias("m")).select("doc_id", "m.*")
    )


def _minhash_bands(sig: DataFrame) -> DataFrame:
    """(doc_id, band, bh) — one row per (doc, band), ``bh`` the md5 of the
    band's ``MINHASH_K // MINHASH_BANDS`` MinHash components (one inline
    over ``sig``)."""
    rows_per_band = MINHASH_K // MINHASH_BANDS
    bands = ", ".join(
        f"named_struct('band', {b}, 'bh', md5(CAST(concat_ws('|', "
        + ", ".join(f"mh_{b * rows_per_band + j}" for j in range(rows_per_band))
        + ") AS BINARY)))"
        for b in range(MINHASH_BANDS)
    )
    return sig.selectExpr("doc_id", f"inline(array({bands}))")


def _band_candidates(buckets: DataFrame, id_col: str, key: str) -> DataFrame:
    """Distinct (id_a, id_b) with id_a < id_b for every pair that collides
    on (band, ``key``) in at least one band — the banded LSH self-join,
    with no cross join anywhere."""
    a, b = buckets.alias("a"), buckets.alias("b")
    return (
        a.join(b, ["band", key])
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def minhash_lsh_pairs(docs: DataFrame) -> DataFrame:
    """LSH candidate generation + exact Jaccard verification at
    ``JACCARD_THRESHOLD``.

    Only the DISTINCT vocabulary is ever materialized as strings (inside
    the signature pass, where md5 needs them); both the signature rows and
    the exact-verify pass read the per-doc xxhash64 shingle ARRAYS — the
    one cached table :func:`_hashed_shingle_arrays` builds, which Spark's
    cache manager serves to both. The verify scores each candidate pair
    with ``array_intersect`` — the r5 verify shuffled the full 2.6M-row
    (id, shingle-string) table twice to count overlaps for a few thousand
    candidate pairs."""
    arr_h = _hashed_shingle_arrays(docs)
    # one row per doc, k minhash columns — persisting it keeps the k-hash
    # aggregation (the dominant per-shingle md5 cost) out of BOTH sides of
    # the banded self-join
    sig = cached(minhash_signatures(docs))
    cand = _band_candidates(_minhash_bands(sig), "doc_id", "bh")
    # verify candidates with exact Jaccard via the per-doc hash arrays
    # (the same cached table the signature rows exploded from) — the
    # shared _attach_pair_arrays shape with array_intersect per pair
    n_inter = F.size(F.array_intersect("_sa", "_sb"))
    n_a, n_b = F.size("_sa"), F.size("_sb")
    return (
        _attach_pair_arrays(cand, arr_h)
        .withColumn(
            "jaccard",
            F.round(n_inter / (n_a + n_b - n_inter), 4),
        )
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_est_pairs(docs: DataFrame) -> DataFrame:
    """(id_a, id_b, est) — banded LSH candidates verified by the SIGNATURE
    Jaccard estimate (fraction of equal MinHash components), not the exact
    shingle Jaccard: it flags exactly the pairs that collide in ≥1 band
    with est ≥ ``MINHASH_EST_THRESHOLD``. Cheaper than `minhash_lsh_pairs` (no second pass
    over shingles) at the cost of estimate noise — the production pick when
    downstream tolerates ~1/k resolution."""
    sig = cached(minhash_signatures(docs))
    cand = _band_candidates(_minhash_bands(sig), "doc_id", "bh")
    arr = sig.select(
        "doc_id", F.array(*[F.col(f"mh_{i}") for i in range(MINHASH_K)]).alias("sig")
    )
    sa = arr.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = arr.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b"))
    eq = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("est", F.round(eq / F.lit(MINHASH_K), 4))
        .where(F.col("est") >= MINHASH_EST_THRESHOLD)
        .select("id_a", "id_b", "est")
    )


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """``SIMHASH_BITS``-bit SimHash over whitespace words (term-frequency
    weighted).

    (A distinct-word md5 dim — the ``minhash_signatures`` pattern — was
    tried in r6 and measured 2x SLOWER here: one md5 per occurrence is
    cheap next to re-exploding the corpus for the vocab pass, so the
    inline hash stays.)"""
    from ..partitioning import spread_small_scan

    words = spread_small_scan(docs.select("doc_id", "text")).select(
        F.col("doc_id"),
        F.explode(F.split(norm_text(F.col("text")), " ")).alias("word"),
    ).where(F.col("word") != "")
    hashed = words.withColumn("h", md5_int64(F.col("word")))
    # bit j is set iff more of the doc's words have hash bit j set than
    # not; the left-deep sum of the bit terms is INT up to bit 30 and
    # widens to BIGINT at the first BIGINT literal (bit 31)
    sig = " + ".join(
        f"CASE WHEN sum((shiftright(h, {j}) & 1) * 2 - 1) > 0 THEN {1 << j} ELSE 0 END"
        for j in range(SIMHASH_BITS)
    )
    return hashed.groupBy("doc_id").agg(F.expr(f"CAST({sig} AS BIGINT)").alias("simhash"))


def simhash_pairs(docs: DataFrame) -> DataFrame:
    """(id_a, id_b, hamming ≤ SIMHASH_MAX_HAMMING). Candidate blocking by the
    pigeonhole principle: split the signature into ``SIMHASH_MAX_HAMMING + 1`` bit
    blocks — any pair within distance d must agree exactly on ≥1 block, so
    an equi-join per block finds every true pair without a cross join."""
    # the signature table is the expensive subtree (word explode + a
    # 60-aggregate groupBy); it feeds BOTH sides of the candidate self-join,
    # so persist it — uncached, Spark recomputes it once per block per side
    # (8x at max_hamming=3)
    max_hamming = SIMHASH_MAX_HAMMING
    sig = cached(simhash_signatures(docs))
    n_blocks = max_hamming + 1
    width = SIMHASH_BITS // n_blocks
    # one row per (doc, block) via explode — a single pass over sig, not an
    # n_blocks-way union
    blocks = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.concat(
                        F.lit(f"b{i}_"),
                        F.shiftright(F.col("simhash"), i * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .cast("string"),
                    )
                    for i in range(n_blocks)
                ]
            )
        ).alias("blk"),
    )
    a, b = blocks.alias("a"), blocks.alias("b")
    cand = (
        a.join(b, "blk")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def embedding_cosine_pairs_blocked(embeddings: DataFrame) -> DataFrame:
    """Near-duplicate (vec_id) pairs by cosine ≥ ``NEARDUP_COS_THRESHOLD`` over the
    ``embedding`` column — the crawl-scale path.

    Banded random-hyperplane LSH: each of b=10 bands hashes a vector to a
    sign-pattern bucket over its own r=16 seeded hyperplanes; candidates
    are the equi-self-join on (band, bucket) — NO cross join anywhere — and
    every candidate is verified with the exact cosine, so precision is 1.0
    by construction. Recall per pair at angle θ is 1-(1-(1-θ/π)^r)^b, which
    for the near-identical regime this operator targets (constructed
    near-dups at cosine ≥ 0.999) is 1-3e-9 per pair at r=16, b=10 while
    candidate volume stays ~b·n²/2^r. The r=6/b=4 banding of earlier rounds
    kept only 64 buckets per band, so candidates grew as n²/16 — quadratic
    with a small constant — AND it deterministically missed a qualifying
    pair at sf1.0; tools/neardup_lsh_tune.py verifies the current banding
    finds every brute-force pair at sf0.001/0.01/0.1/1.0 with 130x fewer
    candidates. The seeded planes are deterministic numpy constants, so the
    blocking is reproducible across runs and engines.

    All b·r projections are computed in ONE
    vectorized Arrow pass (a single (n,d)@(d,160) matmul per batch) instead
    of b·r interpreted higher-order folds per row — the guide §4.2 shape:
    Spark does distribution and the join; numpy does the bulk math. The
    minimum |normalized projection| across every (vector, plane) at every SF
    is ≥ 3e-7 (measured), eleven orders above float64 summation-order noise,
    so bucket signs are stable regardless of fold order.
    """
    n_bands, n_ppb = 10, 16
    planes = lsh_planes(n_bands * n_ppb)
    v = F.col("embedding").cast("array<double>")
    n = embeddings.select(F.col("vec_id"), v.alias("v"), _norm(v).alias("norm"))
    n = cached(n)

    import numpy as np

    plane_t = planes.T.copy()  # (dim, bands*ppb)

    def _bucket_batches(it):
        import pandas as pd

        weights = (1 << np.arange(n_ppb)).astype(np.int64)
        for pdf in it:
            if len(pdf) == 0:
                continue
            vecs = np.array(pdf["v"].tolist(), dtype=np.float64)
            # vectors shorter/longer than the plane dim project onto the
            # common prefix — the same truncation semantics the Catalyst
            # zip_with formulation had
            m = min(vecs.shape[1], plane_t.shape[0])
            proj = vecs[:, :m] @ plane_t[:m, :]  # (rows, bands*ppb)
            signs = (proj > 0).astype(np.int64).reshape(len(pdf), n_bands, n_ppb)
            bucket = signs @ weights  # (rows, bands)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), n_bands),
                    "band": np.tile(np.arange(n_bands, dtype=np.int32), len(pdf)),
                    "bucket": bucket.reshape(-1),
                }
            )

    # cached: the banded self-join reads the bucket table on BOTH sides —
    # uncached, the Arrow projection pass would run twice. The id column
    # keeps its INPUT type (string canon ids etc.), not a hardcoded long.
    id_type = n.schema["vec_id"].dataType.simpleString()
    buckets = cached(
        n.select("vec_id", "v").mapInPandas(
            _bucket_batches, schema=f"vec_id {id_type}, band int, bucket long"
        )
    )
    cand = _band_candidates(buckets, "vec_id", "bucket")
    va = n.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"), F.col("norm").alias("na"))
    vb = n.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"), F.col("norm").alias("nb"))
    dot = _dot(F.col("va"), F.col("vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine", F.round(dot / (F.col("na") * F.col("nb")), 4))
        .where(F.col("cosine") >= NEARDUP_COS_THRESHOLD)
        .select("id_a", "id_b", "cosine")
    )


def embedding_cosine_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact near-duplicate pairs by cosine ≥ threshold (baseline path).

    O(n²/2) — correct at any scale but quadratic; the LSH-bucketed variant
    :func:`embedding_cosine_pairs_blocked` is the crawl-scale path. Dots and norms
    are the ANN operators' ordered folds (``similarity._dot``/``_norm``) in doubles.
    """
    v = F.col(vec_col).cast("array<double>")
    n = embeddings.select(F.col(id_col), v.alias("v"), _norm(v).alias("norm"))
    a = n.select(F.col(id_col).alias("id_a"), F.col("v").alias("va"), F.col("norm").alias("na"))
    b = n.select(F.col(id_col).alias("id_b"), F.col("v").alias("vb"), F.col("norm").alias("nb"))
    pairs = a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
    dot = _dot(F.col("va"), F.col("vb"))
    return (
        pairs.withColumn("cosine", F.round(dot / (F.col("na") * F.col("nb")), 4))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
