import numpy as np

from entity_extractor_by_pointer_spark.operators import canonicalize
from entity_extractor_by_pointer_spark.operators import dedup as dd
from entity_extractor_by_pointer_spark.operators import similarity as sim
from entity_extractor_by_pointer_spark.operators.canonicalize import connected_components


def _docs(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta theta"),  # exact dup of 1
        (3, "alpha beta gamma delta epsilon zeta eta IOTA"),  # near dup of 1
        (4, "completely different words entirely here now okay yes"),
        (5, "ALPHA  beta gamma delta epsilon zeta eta theta"),  # ws/case dup of 1
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_exact_groups_normalized_duplicates(spark):
    groups = dd.dedup_exact(_docs(spark)).collect()
    by_keep = {r["keep_id"]: r["n_dups"] for r in groups}
    assert by_keep[1] == 3  # docs 1, 2, 5 share a normalized fingerprint
    assert by_keep[3] == 1 and by_keep[4] == 1


def test_ngram_jaccard_finds_near_dup(spark, monkeypatch):
    monkeypatch.setattr(dd, "JACCARD_THRESHOLD", 0.5)
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in dd.ngram_jaccard_pairs(_docs(spark)).collect()}
    assert pairs[(1, 2)] == 1.0 and pairs[(1, 5)] == 1.0 and pairs[(2, 5)] == 1.0
    assert 0.5 <= pairs[(1, 3)] < 1.0
    assert (1, 4) not in pairs


def test_minhash_lsh_finds_exact_and_near_dups(spark, monkeypatch):
    monkeypatch.setattr(dd, "JACCARD_THRESHOLD", 0.5)
    pairs = {(r["id_a"], r["id_b"]) for r in dd.minhash_lsh_pairs(_docs(spark)).collect()}
    assert {(1, 2), (1, 5), (2, 5)} <= pairs
    assert (1, 4) not in pairs


def test_minhash_signatures_with_duplicate_doc_id(spark, monkeypatch):
    """A doc id held by two rows with different text: the distinct-shingle
    dim must rebuild each shingle from the one text its representative came
    from, so the signatures with the dim joins hinted (under the broadcast
    ceiling) equal those with plain joins (above it)."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (1, "one two three four five six seven eight"),
            (2, "alpha beta gamma delta epsilon zeta eta theta"),
            (3, "one two three four five six seven eight nine"),
            (4, "completely different words entirely here now okay yes"),
        ],
        "doc_id long, text string",
    )
    hinted = sorted(tuple(r) for r in dd.minhash_signatures(docs).collect())
    from entity_extractor_by_pointer_spark import cache

    monkeypatch.setattr(cache, "BROADCAST_ROWS_MAX", 0)
    plain = sorted(tuple(r) for r in dd.minhash_signatures(docs).collect())
    assert len(hinted) == 4
    assert hinted == plain


def test_simhash_blocking_is_lossless(spark):
    """Pigeonhole blocking must find every pair that exact O(n²) finds."""
    docs = _docs(spark)
    sigs = {r["doc_id"]: r["simhash"] for r in dd.simhash_signatures(docs).collect()}
    exact = set()
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if bin(sigs[a] ^ sigs[b]).count("1") <= 3:
                exact.add((a, b))
    blocked = {(r["id_a"], r["id_b"]) for r in dd.simhash_pairs(docs).collect()}
    assert blocked == exact
    assert (1, 2) in blocked  # identical text → identical signature


def _md5_hex(s):
    import hashlib

    return hashlib.md5(s.encode()).hexdigest()


def _spec_words(text):
    import re

    return re.sub(r"\s+", " ", text.lower(), flags=re.ASCII).strip(" ").split(" ")


def test_signatures_match_python_spec_on_edge_cases(spark, monkeypatch):
    """``simhash_signatures``, ``minhash_signatures`` (its dim joins both
    hinted and plain) and ``_minhash_bands`` equal a pure-Python spec with
    the same md5 hashing on: a doc id held by two rows with differing
    texts (its words and shingles pool), an
    all-whitespace text (no signature row), a doc whose bit sums tie at 0
    (the bit stays 0), and a one-word doc whose signature sets bits 30, 31
    and 59 (where the left-deep sum of bit terms widens from INT to
    BIGINT)."""
    import itertools

    from entity_extractor_by_pointer_spark import cache

    def h60(s):
        return int(_md5_hex(s)[:15], 16)

    high = next(
        w for w in (f"w{i}" for i in itertools.count()) if all(h60(w) >> j & 1 for j in (30, 31, 59))
    )
    rows = [
        (1, "alpha beta gamma delta"),
        (1, "One two  THREE four five"),
        (2, " \t \n "),
        (3, "tie breaker"),
        (4, high),
        (5, f"{high} rides along with six words"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    words, shingles = {}, {}
    for doc_id, text in rows:
        w = _spec_words(text)
        words.setdefault(doc_id, []).extend(x for x in w if x)
        shingles.setdefault(doc_id, set()).update(
            " ".join(w[i : i + dd.NGRAM_N]) for i in range(len(w) - dd.NGRAM_N + 1)
        )

    def bit_sums(ws):
        return [sum((h60(x) >> j & 1) * 2 - 1 for x in ws) for j in range(dd.SIMHASH_BITS)]

    spec_sim = {
        d: sum(1 << j for j, s in enumerate(bit_sums(ws)) if s > 0) for d, ws in words.items() if ws
    }
    assert 0 in bit_sums(words[3]) and spec_sim[3] >> bit_sums(words[3]).index(0) & 1 == 0
    assert spec_sim[4] == h60(high) and all(spec_sim[4] >> j & 1 for j in (30, 31, 59))
    assert {r["doc_id"]: r["simhash"] for r in dd.simhash_signatures(docs).collect()} == spec_sim

    def minhash(sh):
        out = []
        for s in range(dd.MINHASH_K // 2):
            ds = [_md5_hex(f"{x}#{s}") for x in sh]
            out += [min(int(d[:15], 16) for d in ds), min(int(d[16:31], 16) for d in ds)]
        return tuple(out)

    spec_mh = {d: minhash(sh) for d, sh in shingles.items() if sh}
    assert sorted(spec_mh) == [1, 5]
    rpb = dd.MINHASH_K // dd.MINHASH_BANDS
    spec_bands = {
        (d, b, _md5_hex("|".join(str(m) for m in mh[b * rpb : (b + 1) * rpb])))
        for d, mh in spec_mh.items()
        for b in range(dd.MINHASH_BANDS)
    }
    for ceiling in (cache.BROADCAST_ROWS_MAX, 0):  # hinted dim joins, then plain
        monkeypatch.setattr(cache, "BROADCAST_ROWS_MAX", ceiling)
        sig = dd.minhash_signatures(docs)
        assert sig.columns == ["doc_id", *[f"mh_{i}" for i in range(dd.MINHASH_K)]]
        assert {r[0]: tuple(r[1:]) for r in sig.collect()} == spec_mh
        bands = dd._minhash_bands(sig)
        assert bands.columns == ["doc_id", "band", "bh"]
        assert set(map(tuple, bands.collect())) == spec_bands


import pytest


@pytest.mark.parametrize("thr", [100_000, 0], ids=["driver-unionfind", "distributed-loop"])
def test_connected_components_multi_hop(spark, monkeypatch, thr):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e"), ("f", "f")], "src string, dst string"
    )
    monkeypatch.setattr(canonicalize, "CC_DRIVER_THRESHOLD", thr)
    cc = {r["id"]: r["canon_id"] for r in connected_components(edges).collect()}
    assert cc["a"] == cc["b"] == cc["c"] == "a"
    assert cc["d"] == cc["e"] == "d"
    assert "f" not in cc  # self-loop only → no edge → not a component member


def _chain_edges(spark, n):
    return spark.createDataFrame(
        [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(n)], "src string, dst string"
    )


@pytest.mark.parametrize("thr", [100_000, 0], ids=["driver-unionfind", "distributed-loop"])
def test_connected_components_long_chain(spark, monkeypatch, thr):
    n = 12
    edges = _chain_edges(spark, n)
    monkeypatch.setattr(canonicalize, "CC_DRIVER_THRESHOLD", thr)
    cc = {r["id"]: r["canon_id"] for r in connected_components(edges).collect()}
    assert set(cc.values()) == {"n00"}
    assert len(cc) == n + 1


def test_connected_components_paths_agree(spark, monkeypatch):
    import random

    rnd = random.Random(9)
    edges_py = [(f"v{rnd.randrange(60)}", f"v{rnd.randrange(60)}") for _ in range(80)]
    edges = spark.createDataFrame(edges_py, "src string, dst string")
    fast = {(r["id"], r["canon_id"]) for r in connected_components(edges).collect()}
    monkeypatch.setattr(canonicalize, "CC_DRIVER_THRESHOLD", 0)
    dist = {(r["id"], r["canon_id"]) for r in connected_components(edges).collect()}
    assert fast == dist


def test_star_cc_handles_long_chain(spark, monkeypatch):
    """large/small-star must collapse a 24-node chain (where min-label
    propagation needs O(n) rounds) within its O(log n) budget."""
    n = 24
    monkeypatch.setattr(canonicalize, "CC_DRIVER_THRESHOLD", 0)
    monkeypatch.setattr(canonicalize, "CC_MAX_ITER", 10)
    cc = {r["id"]: r["canon_id"] for r in connected_components(_chain_edges(spark, n)).collect()}
    assert set(cc.values()) == {"n00"}
    assert len(cc) == n + 1


# star-loop rounds the 61-node chain takes on the distributed path, the last
# one being the round that finds the edge set stable (min-label propagation
# would need 60)
CHAIN61_ROUNDS = 7


def test_distributed_cc_collapses_61_node_chain(spark, monkeypatch):
    """A 61-node chain is one component on the distributed path in exactly
    ``CHAIN61_ROUNDS`` rounds, within the default round budget."""
    assert canonicalize.CC_MAX_ITER >= CHAIN61_ROUNDS
    monkeypatch.setattr(canonicalize, "CC_DRIVER_THRESHOLD", 0)
    monkeypatch.setattr(canonicalize, "CC_MAX_ITER", CHAIN61_ROUNDS)
    cc = {r["id"]: r["canon_id"] for r in connected_components(_chain_edges(spark, 60)).collect()}
    assert set(cc.values()) == {"n00"}
    assert len(cc) == 61


def test_distributed_cc_raises_when_not_converged(spark, monkeypatch):
    """One round short of ``CHAIN61_ROUNDS`` (and a single round) raises."""
    monkeypatch.setattr(canonicalize, "CC_DRIVER_THRESHOLD", 0)
    for rounds in (1, CHAIN61_ROUNDS - 1):
        monkeypatch.setattr(canonicalize, "CC_MAX_ITER", rounds)
        with pytest.raises(RuntimeError, match=f"did not converge within CC_MAX_ITER={rounds} "):
            connected_components(_chain_edges(spark, 60))


def test_ann_bruteforce_matches_numpy(spark):
    rng = np.random.default_rng(5)
    vecs = rng.normal(size=(40, 8)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    got = sim.ann_topk_bruteforce(df, df.where("vec_id < 3"), k=4)
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"]))
    v = vecs.astype(np.float64)
    v = v / np.linalg.norm(v, axis=1, keepdims=True)
    s = v @ v.T
    for q in range(3):
        order = sorted(
            (i for i in range(40) if i != q),
            key=lambda i: (-s[q, i], i),
        )[:4]
        assert [n for _rk, n in sorted(by_q[q])] == order


def test_ivf_assign_covers_all_vectors(spark):
    rng = np.random.default_rng(6)
    df = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=64)]) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    cells = sim.ivf_assign(df).collect()
    assert len(cells) == 30
    assert all(0 <= r["cell"] < sim.IVF_CELLS for r in cells)


def test_blocked_cosine_arrow_pass_finds_identical_pairs(spark, monkeypatch):
    """The r6 vectorized Arrow bucket pass (one matmul per batch over all
    bands' hyperplanes) must still collide every identical-vector pair in
    every band: recall for exact duplicates is 1.0 by construction
    regardless of the banding config."""
    from pyspark.sql import functions as F

    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(50, 64)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(50)],
        "vec_id long, embedding array<float>",
    )
    monkeypatch.setattr(dd, "NEARDUP_COS_THRESHOLD", 0.999)
    pairs = dd.embedding_cosine_pairs_blocked(
        df.unionAll(df.withColumn("vec_id", F.col("vec_id") + 1000))
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(i, i + 1000) for i in range(50)}
    assert all(abs(r["cosine"] - 1.0) < 1e-9 for r in pairs)


def test_blocked_cosine_equals_bruteforce_on_neardup_corpus(spark):
    """The LSH-banded blocked near-dup (the crawl-scale default) must return
    exactly the brute-force pairs on the derived near-dup corpus."""
    import __spark_entry__ as E

    aug = E._augmented_embeddings(spark, "/root/testdata/sf0.001")
    blocked = {
        tuple(r) for r in dd.embedding_cosine_pairs_blocked(aug).collect()
    }
    brute = {tuple(r) for r in dd.embedding_cosine_pairs(aug, 0.95).collect()}
    assert blocked == brute
    assert len(blocked) == 500  # one pair per original vector


def test_jaccard_prunes_respect_rounding_window(spark):
    """The engine accepts on round(J, 4) >= tau, which admits J >= tau-5e-5
    — so the size-compatibility / min-intersection prunes must use the
    slackened threshold. This pair sits INSIDE the rounding window
    (J = 31999/40000 = 0.799975 -> rounds to 0.8): an unslackened
    min >= tau*max cut (0.8*40000 = 32000 > 31999) would silently drop a
    pair the oracle keeps."""
    words_a = " ".join(f"w{i}" for i in range(40002))   # 40000 shingles
    words_b = " ".join(f"w{i}" for i in range(32001))   # 31999, all within A
    docs = spark.createDataFrame(
        [(1, words_a), (2, words_b)], "doc_id long, text string"
    )
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
           dd.ngram_jaccard_pairs(docs).collect()}
    assert got == {(1, 2): 0.8}, got


def test_pair_engine_is_exact_above_the_former_cap_gate(spark):
    """Above 50,000 docs the pair engine once dropped stop-shingles (df > 16)
    from the blocking join, so a pair sharing only hot shingles was lost.
    Here 50,001 one-word fillers (no shingles) carry the corpus past that
    size, "the quick brown" is held by 22 docs, and docs 900 and 901 share
    nothing else: both scorers must still find every pair their exact
    spec finds, and the plan must have no hot-shingle anti-join."""
    from pyspark.sql import functions as F

    hot = "the quick brown"
    rows = [(i, f"{hot} fox{i} a{i} b{i} c{i} d{i} e{i}") for i in range(20)]
    rows += [(900, hot), (901, hot)]
    fillers = spark.range(50_001).select(
        (F.col("id") + 1_000_000).alias("doc_id"),
        F.concat(F.lit("w"), F.col("id").cast("string")).alias("text"),
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string").unionByName(fillers)

    jacc = dd.ngram_jaccard_pairs(docs)
    assert "LeftAnti" not in jacc._jdf.queryExecution().executedPlan().toString()
    assert {(r["id_a"], r["id_b"]): r["jaccard"] for r in jacc.collect()} == {(900, 901): 1.0}

    def shingles(text):
        w = _spec_words(text)
        return {" ".join(w[j : j + dd.NGRAM_N]) for j in range(len(w) - dd.NGRAM_N + 1)}

    sh = {i: shingles(t) for i, t in rows}
    spec = {
        (a, b): round(len(sh[a] & sh[b]) / len(sh[a]), 4)
        for a in sh
        for b in sh
        if a != b and len(sh[a] & sh[b]) / len(sh[a]) >= dd.CONTAINMENT_THRESHOLD
    }
    assert len(spec) == 42  # 900 and 901 inside each other and each fox doc
    cont = dd.containment_pairs(docs)
    assert "LeftAnti" not in cont._jdf.queryExecution().executedPlan().toString()
    assert {(r["id_a"], r["id_b"]): r["containment"] for r in cont.collect()} == spec


def test_ann_topk_ivf_exact_within_cell(spark, monkeypatch):
    """IVF probe (nprobe=1) must return exactly the numpy top-k computed
    over the query's own coarse cell."""
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(60, 64)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(60)],
        "vec_id long, embedding array<float>",
    )
    monkeypatch.setattr(sim, "ANN_K", 3)
    got = {}
    for r in sim.ann_topk_ivf(sim.ivf_assign(df), df.where("vec_id < 4")).collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"]))
    cents = sim.ivf_centroids()
    v = vecs.astype(np.float64)
    vn = v / np.linalg.norm(v, axis=1, keepdims=True)
    cells = np.argmax(vn @ cents.T, axis=1)
    s = vn @ vn.T
    for q in range(4):
        mates = [i for i in range(60) if cells[i] == cells[q] and i != q]
        order = sorted(mates, key=lambda i: (-s[q, i], i))[:3]
        assert [n for _rk, n in sorted(got.get(q, []))] == order


def test_hash_split_is_deterministic_and_roughly_proportional(spark):
    """Hash split: stable across partitionings, disjoint, ~80/10/10."""
    import pyspark.sql.functions as F

    from entity_extractor_by_pointer_spark.functions.textstats import hash_split

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    one = {
        r["doc_id"]: r["split"]
        for r in docs.repartition(1)
        .select("doc_id", hash_split(F.col("doc_id").cast("string")).alias("split"))
        .collect()
    }
    many = {
        r["doc_id"]: r["split"]
        for r in docs.repartition(16)
        .select("doc_id", hash_split(F.col("doc_id").cast("string")).alias("split"))
        .collect()
    }
    assert one == many  # partitioning-independent
    n = len(one)
    counts = {s: sum(1 for v in one.values() if v == s) for s in ("train", "dev", "test")}
    assert sum(counts.values()) == n
    assert 0.7 * n <= counts["train"] <= 0.9 * n
    assert counts["dev"] > 0 and counts["test"] > 0


def test_tfidf_terms_hand_computed(spark):
    import math

    from entity_extractor_by_pointer_spark.functions.textstats import tfidf_terms

    docs = spark.createDataFrame(
        [(1, "apple banana apple"), (2, "banana cherry"), (3, "banana banana")],
        "doc_id long, text string",
    )
    rows = {r["term"]: r for r in tfidf_terms(docs).collect()}
    assert rows["apple"]["tf"] == 2 and rows["apple"]["df"] == 1
    assert rows["banana"]["tf"] == 4 and rows["banana"]["df"] == 3
    assert rows["banana"]["tfidf"] == 0.0  # ln(3/3) = 0
    assert rows["apple"]["tfidf"] == round(2 * math.log(3.0 / 1), 6)
    assert rows["cherry"]["tfidf"] == round(1 * math.log(3.0 / 1), 6)


def test_corpus_curation_precedence(spark, monkeypatch):
    """Verdict precedence: exact_dup beats lang beats quality beats kept."""
    from entity_extractor_by_pointer_spark.operators import curation
    from entity_extractor_by_pointer_spark.operators.curation import curate_corpus

    monkeypatch.setattr(curation, "CURATE_LANGS", ("en",))
    good = "the cat and the dog walked to the park and sat in the sun " * 6
    rows = [
        (1, good, "en"),            # kept
        (2, good, "xx"),            # lang (content dups doc 1? same text → exact_dup!)
        (3, "!!! ??? ***", "en"),   # quality (short, punct-heavy)
        (4, good + " unique", "xx"),  # lang
    ]
    out = {r["doc_id"]: r["verdict"] for r in curate_corpus(
        spark.createDataFrame(rows, "doc_id long, text string, lang string")
    ).collect()}
    assert out[1] == "kept"
    assert out[2] == "exact_dup"  # dup of doc 1 wins over its bad lang
    assert out[3] == "quality"
    assert out[4] == "lang"


def test_kmeans_centroids_match_numpy_lloyd(spark):
    """Distributed Lloyd ≡ single-process numpy Lloyd with the same
    per-iteration 6-dp rounding and empty-cell keep rule."""
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got = {(r["cell"], r["dim"]): r["val"] for r in sim.kmeans_centroids(e).collect()}

    emb = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in e.collect()}
    V = np.array([emb[k] for k in sorted(emb)])
    cents = np.round(sim.ivf_centroids().astype(np.float64), 6)
    for _ in range(3):
        vn = V / np.linalg.norm(V, axis=1, keepdims=True)
        cn = cents / np.linalg.norm(cents, axis=1, keepdims=True)
        cos = vn @ cn.T
        assign = np.argmax(cos, axis=1)  # first max = lowest cell, same tie rule
        new = cents.copy()
        for c in range(len(cents)):
            members = V[assign == c]
            if len(members):
                new[c] = np.round(members.mean(axis=0), 6)
        cents = new
    for c in range(len(cents)):
        for d in range(cents.shape[1]):
            assert abs(got[(c, d)] - cents[c, d]) < 2e-6, (c, d, got[(c, d)], cents[c, d])


def test_kmeans_dead_cell_and_length_mismatch_excluded(spark, monkeypatch):
    """A zero-norm centroid (SQL cosine NULL via division by zero) and a
    length-mismatched centroid (SQL cosine NULL via zip_with padding)
    must never win an assignment — the numpy argmax path excludes both
    exactly like the struct-max-over-NULL did."""
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    cents = np.array(
        [
            [0.0, 0.0],        # dead cell: zero norm
            [-1.0, 0.0],       # live but opposite
            [1.0, 0.0],        # live and closest
        ]
    )
    monkeypatch.setattr(sim, "ivf_centroids", lambda: cents)
    monkeypatch.setattr(sim, "KMEANS_ITERS", 1)
    got = {
        (r["cell"], r["dim"]): r["val"]
        for r in sim.kmeans_centroids(emb).collect()
    }
    # both nonzero vectors must land in cell 2 (max cosine among LIVE
    # cells), so cell 2's centroid becomes their mean; the zero vector has
    # NULL cosines everywhere, so it goes to cell 0 (cell ASC tie-break),
    # leaving cell 0 at zero and cell 1 unchanged
    assert got[(2, 0)] == round((1.0 + 0.9) / 2, 6)
    assert got[(0, 0)] == 0.0 and got[(1, 0)] == -1.0
    # a centroid longer than every vector is excluded the same way
    cents3 = np.array([[0.0, 0.0, 0.0, 1.0], [1.0, 0.0, 0.0, 0.0]])
    emb2 = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    monkeypatch.setattr(sim, "ivf_centroids", lambda: cents3)
    got2 = {
        (r["cell"], r["dim"]): r["val"]
        for r in sim.kmeans_centroids(emb2).collect()
    }
    # no live equal-length cell exists -> argmax over all -inf = cell 0;
    # cell 0's centroid becomes the sole member's mean (2 dims)
    assert got2[(0, 0)] == 1.0 and got2[(0, 1)] == 0.0
    assert (1, 0) in got2  # cell 1 keeps its previous 4-dim centroid


def test_winnow_fingerprint_content_defined(spark):
    import pyspark.sql.functions as F

    from entity_extractor_by_pointer_spark.functions.textstats import winnow_fingerprint

    rows = [
        (1, "Hello  World this is a TEST document"),
        (2, "hello world this is a test document"),  # normalizes equal → same fp
        (3, "a totally different text body here"),
        (4, ""),
        (5, "x"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fp = {r["doc_id"]: r["w"] for r in df.select("doc_id", winnow_fingerprint(F.col("text")).alias("w")).collect()}
    assert fp[1] == fp[2]
    assert fp[1] != fp[3]
    assert fp[4] is not None and fp[5] is not None  # short docs don't crash


def test_positional_hash_builder_matches_distinct_array_builder(spark):
    """The signature pass censuses POSITIONAL word-tuple hashes and keys
    its digest dim on them; the per-doc rows explode the array_distinct
    form. The two builders must assign identical value sets per doc (and
    the positional offsets must rebuild the right strings), or the dim
    join silently drops rows."""
    import entity_extractor_by_pointer_spark.operators.dedup as dd
    from entity_extractor_by_pointer_spark.functions.textstats import norm_text
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta alpha beta gamma"), (2, "one two three  four")],
        "doc_id long, text string",
    )
    from_arrays = {
        (r["doc_id"], h)
        for r in dd._hashed_shingle_arrays(docs).collect()
        for h in r["sharr"]
    }
    wh = docs.select(
        "doc_id",
        F.split(norm_text(F.col("text")), " ").alias("w"),
    ).select(
        "doc_id", "w", F.expr("transform(w, x -> xxhash64(x))").alias("wh")
    )
    pos_rows = wh.select(
        "doc_id",
        "w",
        F.posexplode_outer(
            F.expr(dd._shingle_arr_sql(dd.NGRAM_N, positional=True))
        ).alias("pos", "h"),
    ).where(F.col("h").isNotNull())
    from_positional = {(r["doc_id"], r["h"]) for r in pos_rows.collect()}
    assert from_arrays and from_arrays == from_positional
    # offsets rebuild the true shingle string (hash of rebuilt == hash key)
    rebuilt = pos_rows.select(
        "h",
        F.concat_ws(" ", F.slice("w", F.col("pos") + 1, dd.NGRAM_N)).alias("s"),
    ).collect()
    for r in rebuilt:
        words = r["s"].split(" ")
        assert len(words) == dd.NGRAM_N


def test_jaccard_wide_agg_gate_plan_and_equivalence(spark, monkeypatch):
    """Above the census gate the exact path widens ONLY the pair
    aggregate's exchange (an explicit keyed repartition); below it the
    plan is unchanged. The pair set is identical either way."""
    import entity_extractor_by_pointer_spark.operators.dedup as dd

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta") for i in range(6)]
        + [(10, "one two three four five"), (11, "one two three four five")],
        "doc_id long, text string",
    )
    ref = sorted(tuple(r) for r in dd.ngram_jaccard_pairs(docs).collect())

    def _n_reparts(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.count("REPARTITION_BY_NUM")

    # census (8 docs) below the wide gate → no extra repartition exchange
    below = dd.ngram_jaccard_pairs(docs)
    n_below = _n_reparts(below)
    # lower the gate under the corpus size → exactly one more
    monkeypatch.setattr(dd, "PAIR_AGG_WIDE_DOCS", 4)
    above = dd.ngram_jaccard_pairs(docs)
    assert _n_reparts(above) == n_below + 1
    assert sorted(tuple(r) for r in above.collect()) == ref
    assert sorted(tuple(r) for r in below.collect()) == ref


def test_ann_topk_ivf_materialized_probe_and_nprobe(spark, tmp_path, monkeypatch):
    """The probe over the cell-partitioned ``ivf_assign`` corpus, written
    and read back, (a) returns the same rows as the unwritten corpus, (b)
    partition-prunes the corpus scan (DPP on cell), and (c) nprobe=2's
    result set contains nprobe=1's neighbors per query (recall is monotone
    in nprobe)."""
    import numpy as np

    import entity_extractor_by_pointer_spark.operators.similarity as sim

    rng = np.random.default_rng(7)
    rows = [(int(i), [float(x) for x in rng.normal(0, 1, sim.ANN_DIM)]) for i in range(64)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qs = df.where("vec_id < 4")

    monkeypatch.setattr(sim, "ANN_K", 3)
    sim.ivf_assign(df).repartition("cell").write.partitionBy("cell").parquet(str(tmp_path / "ivf"))
    mat = spark.read.parquet(str(tmp_path / "ivf"))
    computed = sorted(tuple(r) for r in sim.ann_topk_ivf(sim.ivf_assign(df), qs).collect())
    assigned = sorted(tuple(r) for r in sim.ann_topk_ivf(mat, qs).collect())
    assert computed == assigned

    probe2 = sim.ann_topk_ivf(mat, qs, nprobe=2)
    plan = probe2._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan  # corpus scan pruned by cell
    got2 = {(r.query_id, r.neighbor_id) for r in probe2.collect()}
    # nprobe=2 candidates ⊇ nprobe=1 candidates → its top-3 cosine is ≥;
    # verify per-query neighbor sets only grow toward the brute-force truth
    brute = {
        (r.query_id, r.neighbor_id)
        for r in sim.ann_topk_bruteforce(df, qs, k=3).collect()
    }
    got1 = {(r[0], r[1]) for r in assigned}
    assert len(got2 & brute) >= len(got1 & brute)

    # nprobe=1 via top_cells_expr == best_cell_expr (same argmax tie rule)
    from pyspark.sql import functions as F

    cents = sim.ivf_centroids()
    both = df.select(
        sim.best_cell_expr(F.col("embedding"), cents).alias("best"),
        sim.top_cells_expr(F.col("embedding"), cents, 1)[0].alias("top1"),
    )
    assert both.where("best != top1").count() == 0


def test_boilerplate_stats_hand_computed(spark, monkeypatch):
    """3-word shingles; 'the same footer' appears in docs 1-3 (df=3 ≥
    min_df=2 with the unique middles below it), doc 4 shares nothing,
    doc 5 is too short for any shingle."""
    from entity_extractor_by_pointer_spark.operators import curation
    from entity_extractor_by_pointer_spark.operators.curation import boilerplate_stats

    monkeypatch.setattr(curation, "BOILERPLATE_MIN_DF", 2)
    rows = [
        (1, "alpha beta the same footer"),
        (2, "gamma delta the same footer"),
        (3, "the same footer"),
        (4, "one two three four"),
        (5, "hi"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_shingles"], r["n_boiler"], r["boiler_ratio"])
        for r in boilerplate_stats(docs).collect()
    }
    # doc 1: shingles {alpha beta the, beta the same, the same footer} → 1 hot
    assert got[1] == (3, 1, round(1 / 3, 6))
    assert got[2] == (3, 1, round(1 / 3, 6))
    assert got[3] == (1, 1, 1.0)
    assert got[4] == (2, 0, 0.0)
    assert got[5] == (0, 0, 0.0)  # shingle-less doc still gets a row


def test_boilerplate_stats_matches_python_reference_randomized(spark, monkeypatch):
    """Randomized corpora vs an independent pure-python shingle-df census."""
    import random
    import re

    from entity_extractor_by_pointer_spark.operators import curation
    from entity_extractor_by_pointer_spark.operators.curation import boilerplate_stats

    rng = random.Random(11)
    vocab = ["aa", "bb", "cc", "dd", "ee"]
    for trial in range(3):
        texts = {
            i: " ".join(rng.choices(vocab, k=rng.randint(0, 12)))
            for i in range(rng.randint(4, 25))
        }
        docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
        min_df = rng.randint(2, 4)
        monkeypatch.setattr(curation, "BOILERPLATE_MIN_DF", min_df)
        got = {
            r["doc_id"]: (r["n_shingles"], r["n_boiler"], r["boiler_ratio"])
            for r in boilerplate_stats(docs).collect()
        }
        sh = {
            i: (
                {
                    " ".join(w[j : j + 3])
                    for j in range(len(w) - 2)
                }
                if len(w := re.sub(r"\s+", " ", t.lower()).strip().split(" ")) >= 3
                else set()
            )
            for i, t in texts.items()
        }
        df = {}
        for s in sh.values():
            for g in s:
                df[g] = df.get(g, 0) + 1
        want = {}
        for i, s in sh.items():
            nb = sum(1 for g in s if df[g] >= min_df)
            want[i] = (len(s), nb, round(nb / len(s), 6) if s else 0.0)
        assert got == want, (trial, min_df, got, want)


def test_chunk_documents_hand_computed_and_reconstruction(spark, monkeypatch):
    """Window boundaries, short-doc and empty-doc cases; and removing the
    overlap from every chunk after the first reconstructs the document."""
    from entity_extractor_by_pointer_spark.functions import textstats
    from entity_extractor_by_pointer_spark.functions.textstats import chunk_documents

    monkeypatch.setattr(textstats, "CHUNK_TOKENS", 4)
    monkeypatch.setattr(textstats, "CHUNK_OVERLAP", 1)
    docs = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(10))), (2, "short doc"), (3, "")],
        "doc_id long, text string",
    )
    rows = sorted(
        (r["doc_id"], r["chunk_id"], r["n_tokens"], r["chunk_text"])
        for r in chunk_documents(docs).collect()
    )
    assert rows == [
        (1, 0, 4, "w0 w1 w2 w3"),
        (1, 1, 4, "w3 w4 w5 w6"),
        (1, 2, 4, "w6 w7 w8 w9"),
        (2, 0, 2, "short doc"),
        (3, 0, 1, ""),  # empty doc → one empty chunk (split('') == [''])
    ]
    # reconstruction: chunk 0 whole, later chunks minus the leading overlap
    toks = []
    for _d, cid, _n, text in rows[:3]:
        ws = text.split(" ")
        toks += ws if cid == 0 else ws[1:]
    assert toks == [f"w{i}" for i in range(10)]


def test_containment_is_directional(spark, monkeypatch):
    """A fragment wholly inside a longer doc has containment 1.0 in the
    fragment→source direction and a LOW score the other way — the
    sub-document duplication case symmetric Jaccard cannot flag."""
    long_text = " ".join(f"w{i}" for i in range(40))
    frag = " ".join(f"w{i}" for i in range(10))  # strict prefix
    docs = spark.createDataFrame(
        [(1, long_text), (2, frag), (3, "entirely different words here now")],
        "doc_id long, text string",
    )
    got = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in dd.containment_pairs(docs).collect()
    }
    assert got == {(2, 1): 1.0}  # fragment→source only; source→fragment ~0.2
    # and Jaccard at the same threshold sees nothing
    monkeypatch.setattr(dd, "JACCARD_THRESHOLD", dd.CONTAINMENT_THRESHOLD)
    assert dd.ngram_jaccard_pairs(docs).count() == 0


def test_adaptive_quality_flags_per_language_floor(spark, monkeypatch):
    """Each language's floor is the quality at rank ceil(0.25*n) in
    (quality, doc_id) order; keep = quality >= own-language floor — a doc
    that fails the global floor can survive under its language's floor."""
    from entity_extractor_by_pointer_spark.operators import curation
    from entity_extractor_by_pointer_spark.operators.curation import (
        adaptive_quality_flags,
    )

    monkeypatch.setattr(curation, "ADAPTIVE_QUALITY_PCT", 0.25)
    good_en = "the cat and the dog was in the house of the king " * 8
    rows = (
        [(i, good_en, "en") for i in range(6)]
        + [(10, "x!!! ??? !!!", "en")]                      # en low outlier
        + [(20 + i, "word " * (4 + i), "de") for i in range(4)]  # de: low abs scores
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r["doc_id"]: r for r in adaptive_quality_flags(docs).collect()}
    # en: n=7 → floor at rank 2 ascending → the single outlier (rank 1) drops
    assert out[10]["keep"] is False
    assert all(out[i]["keep"] for i in range(6))
    # de: n=4 → floor at rank 1 → EVERY de doc keeps, though the global 0.5
    # floor would reject the shortest ones (language-relative un-bias)
    de = [out[20 + i] for i in range(4)]
    assert all(r["keep"] for r in de)
    assert any(r["quality"] < 0.5 for r in de)
    # floors are per-language constants
    assert len({r["q_floor"] for r in de}) == 1


def test_vocab_edit_pairs_blocking_is_exhaustive(spark, monkeypatch):
    """SymSpell deletion-signature blocking + levenshtein verify must equal
    brute-force O(V^2) enumeration on a randomized vocabulary, at both
    max_dist=1 and 2 (deletion-neighborhood completeness)."""
    import itertools
    import random

    from entity_extractor_by_pointer_spark.functions import textstats
    from entity_extractor_by_pointer_spark.functions.textstats import (
        vocab_edit_pairs,
    )

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[len(b)]

    rng = random.Random(99)
    base = ["spark", "spork", "sprk", "sparks", "stark", "query", "queue",
            "quary", "jon", "join", "joins", "a", "b", "ab", "merge", "marge"]
    words = base + ["".join(rng.choice("abcde") for _ in range(rng.randint(1, 6))) for _ in range(20)]
    docs = spark.createDataFrame(
        [(i, " ".join(rng.sample(words, 5))) for i in range(40)],
        "doc_id long, text string",
    )
    vocab = sorted({w for r in docs.collect() for w in r["text"].split()})
    for md in (1, 2):
        monkeypatch.setattr(textstats, "VOCAB_EDIT_MAX_DIST", md)
        got = {
            (r["term_a"], r["term_b"]): r["dist"]
            for r in vocab_edit_pairs(docs).collect()
        }
        expect = {
            (a, b): lev(a, b)
            for a, b in itertools.combinations(vocab, 2)
            if lev(a, b) <= md
        }
        assert got == expect, md


def test_profile_table_one_pass_with_nulls(spark):
    """Null counts, exact distincts, native-type min/max (a string cast
    before min would order '10' < '9'); single aggregation job."""
    from entity_extractor_by_pointer_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [(1, 9, "x"), (2, 10, None), (3, None, "y"), (4, 10, "x")],
        "id long, v int, s string",
    )
    got = {r["col_name"]: r for r in profile_table(df).collect()}
    assert got["v"]["n_nulls"] == 1 and got["v"]["n_distinct"] == 2
    assert (got["v"]["min_val"], got["v"]["max_val"]) == ("9", "10")  # numeric order
    assert got["s"]["n_nulls"] == 1 and got["s"]["n_distinct"] == 2
    assert got["id"]["n_rows"] == 4 and got["id"]["n_nulls"] == 0
    # exact mode (r6 shape): one independent single-distinct aggregate
    # branch per column (two exchanges each — distinct phase + final 1-row
    # agg), and no Expand (the fused multi-distinct re-expanded the whole
    # input once per profiled column through a single pipeline)
    plan = profile_table(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 2 * len(df.columns) + 1, plan
    assert "Expand" not in plan, plan


def test_contamination_flags_hand_computed(spark):
    """8-gram collision with a benchmark item flags the doc; shorter
    overlaps and clean docs don't; short docs are clean by definition."""
    from entity_extractor_by_pointer_spark.operators.curation import (
        contamination_flags,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, base + " extra words here"),            # contains bench 8-grams
            (2, "alpha beta gamma delta nothing else at all here now"),  # ≤4-gram overlap only
            (3, "totally unrelated content with its own ten words set"),
            (4, "short doc"),                            # no 8-gram at all
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(base,)], "text string")
    got = {
        r["doc_id"]: (r["n_contam"], r["contaminated"])
        for r in contamination_flags(docs, bench).collect()
    }
    # bench (10 words) has 3 distinct 8-grams, all present in doc 1
    assert got[1] == (3, True)
    assert got[2] == (0, False)
    assert got[3] == (0, False)
    assert got[4] == (0, False)


def test_contamination_flags_match_string_spec_randomized(spark):
    """Seeded corpora vs a pure-Python spec over STRING word-8-grams: the
    operator compares 8-byte shingle hashes, and must count exactly the
    distinct benchmark 8-grams each doc shares. Every trial carries a
    repeated benchmark item, a benchmark item too short for a shingle, docs
    shorter than 8 words, docs sharing only a 7-gram with an item, and a
    doc holding one benchmark 8-gram twice; case and whitespace vary."""
    import random

    from entity_extractor_by_pointer_spark.operators.curation import (
        CONTAM_N,
        contamination_flags,
    )

    def shingles(text):
        w = _spec_words(text)
        return {" ".join(w[i : i + CONTAM_N]) for i in range(len(w) - CONTAM_N + 1)}

    def noisy(words):
        return rng.choice(["", " ", "\t"]) + "".join(
            (w.upper() if rng.random() < 0.2 else w) + rng.choice([" ", "  ", "\n"])
            for w in words
        )

    rng = random.Random(23)
    vocab = [f"w{i}" for i in range(12)]
    for trial in range(3):
        items = [rng.choices(vocab, k=rng.randint(CONTAM_N, 16)) for _ in range(4)]
        bench_texts = [" ".join(it) for it in items]
        bench_texts += [bench_texts[0], " ".join(vocab[: CONTAM_N - 1])]
        filler = ["zz", "yy"]  # outside the vocab: never extends an overlap
        texts = []
        for it in items:
            s = rng.randint(0, len(it) - CONTAM_N)
            gram = it[s : s + CONTAM_N]
            texts += [
                rng.choices(vocab, k=rng.randint(0, 6)) + gram + rng.choices(vocab, k=3),
                filler + gram[:-1] + filler,  # a 7-gram of the item only
                gram + filler + gram,  # one benchmark 8-gram, twice
                rng.choices(vocab, k=rng.randint(0, CONTAM_N - 1)),  # too short
                rng.choices(vocab, k=rng.randint(CONTAM_N, 20)),
            ]
        docs = spark.createDataFrame(
            [(i, noisy(t)) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        bench = spark.createDataFrame([(noisy(t.split(" ")),) for t in bench_texts], "text string")
        bench_set = set().union(*(shingles(t) for t in bench_texts))
        want = {}
        for r in docs.collect():
            n = len(shingles(r["text"]) & bench_set)
            want[r["doc_id"]] = (n, n >= 1)
        got = {
            r["doc_id"]: (r["n_contam"], r["contaminated"])
            for r in contamination_flags(docs, bench).collect()
        }
        assert got == want, (trial, got, want)
        assert all(want[5 * k + 2][0] == 1 for k in range(len(items)))  # twice, counted once
        assert all(want[5 * k + 1][0] == 0 for k in range(len(items)))  # 7-gram only


def test_source_stats_hand_computed(spark):
    """Cross-source exact dups count against every source carrying them;
    means are per-source."""
    from entity_extractor_by_pointer_spark.operators.curation import source_stats

    docs = spark.createDataFrame(
        [
            (1, "one two three", "a"),
            (2, "one two three", "b"),   # dup of doc 1, different source
            (3, "four five six seven", "a"),
            (4, "unique eight nine", "b"),
        ],
        "doc_id long, text string, source string",
    )
    got = {r["source"]: r for r in source_stats(docs).collect()}
    assert got["a"]["n_docs"] == 2 and got["b"]["n_docs"] == 2
    assert got["a"]["dup_ratio"] == 0.5  # doc 1 of a's 2 docs is corpus-dup
    assert got["b"]["dup_ratio"] == 0.5
    assert got["a"]["mean_tokens"] == 3.5  # (3 + 4) / 2
    assert got["b"]["mean_tokens"] == 3.0


def test_repetition_stats_hand_computed(spark):
    """Gopher-style repetition: duplicate-3-gram fraction and top-word
    share, with short/empty docs at zero grams."""
    from entity_extractor_by_pointer_spark.functions.textstats import (
        repetition_stats,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c a b c a b c"),     # 7 grams: abc,bca,cab x2 + abc -> 4 dups
            (2, "one two three four"),     # 2 distinct grams, no dups
            (3, "x x x x"),                # 2 grams both 'x x x' -> 1 dup; top share 1.0
            (4, "hi"),                     # no 3-gram
            (5, "   "),                    # whitespace-only: everything 0
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_grams"], r["dup_gram_ratio"], r["top_word_share"])
        for r in repetition_stats(docs).collect()
    }
    # doc 1: 9 words -> 7 grams, distinct {abc, bca, cab} = 3 -> dup 4/7
    assert got[1] == (7, round(4 / 7, 4), round(3 / 9, 4))
    assert got[2] == (2, 0.0, 0.25)
    assert got[3] == (2, 0.5, 1.0)
    assert got[4] == (0, 0.0, 1.0)  # single word: top share trivially 1
    assert got[5] == (0, 0.0, 0.0)  # empty doc: NOT maximally repetitive


def test_balance_sources_caps_dominant_source(spark):
    """Domain balancing: a source above the share cap is thinned to ~cap
    docs by the deterministic hash draw; under-cap sources keep everything;
    the decision is stable across partitionings."""
    from entity_extractor_by_pointer_spark.operators.curation import balance_sources

    rows = [(i, "t", "big") for i in range(900)] + [
        (1000 + i, "t", f"s{i % 4}") for i in range(100)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = balance_sources(docs).collect()
    kept = {}
    for r in out:
        kept.setdefault(r["source"], [0, 0])
        kept[r["source"]][0] += 1
        kept[r["source"]][1] += int(r["keep"])
    # cap = 1000*20//100 = 200; 'big' (900 docs) thinned to ~200 (hash
    # uniformity: generous ±40% window), small sources untouched
    assert kept["big"][0] == 900
    assert 120 <= kept["big"][1] <= 280, kept["big"]
    for s in ("s0", "s1", "s2", "s3"):
        assert kept[s][1] == kept[s][0]  # all kept
    # determinism across partitionings
    again = balance_sources(docs.repartition(13)).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_nfc_normalize_composes_and_fingerprints_agree(spark):
    """NFC: decomposed accents compose (length shrinks), idempotent on
    already-composed text, null-safe — and the cleanup makes exact-dedup
    fingerprints of the two forms identical."""
    from entity_extractor_by_pointer_spark.functions.textstats import (
        fingerprint64,
        nfc_normalize,
    )
    from pyspark.sql import functions as F

    decomposed = "café lait"     # e + COMBINING ACUTE
    composed = "caf\u00e9 lait"  # precomposed e-acute
    docs = spark.createDataFrame(
        [(1, decomposed), (2, composed), (3, None)], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: (r["n"], r["fp"])
        for r in docs.select(
            "doc_id",
            F.length(nfc_normalize(F.col("text"))).alias("n"),
            fingerprint64(nfc_normalize(F.col("text"))).alias("fp"),
        ).collect()
    }
    assert out[1][0] == out[2][0] == len(composed)
    assert out[1][1] == out[2][1]  # forms dedup together post-NFC
    assert out[3] == (None, None)
