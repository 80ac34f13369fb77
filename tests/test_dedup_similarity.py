import contextlib

import numpy as np

from entity_extractor_by_pointer_spark.operators import canonicalize
from entity_extractor_by_pointer_spark.operators import dedup as dd
from entity_extractor_by_pointer_spark.operators import similarity as sim
from entity_extractor_by_pointer_spark.operators.canonicalize import connected_components


@contextlib.contextmanager
def _capped_blocking(monkeypatch, cap):
    """Force the pair engine's capped blocking path with stop-shingle cap
    ``cap``: every corpus is above a ``JACCARD_AUTO_DOCS`` of -1."""
    with monkeypatch.context() as m:
        m.setattr(dd, "JACCARD_AUTO_DOCS", -1)
        m.setattr(dd, "JACCARD_AUTO_CAP", cap)
        yield


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


def test_ngram_jaccard_finds_near_dup(spark):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in dd.ngram_jaccard_pairs(_docs(spark), 0.5).collect()}
    assert pairs[(1, 2)] == 1.0 and pairs[(1, 5)] == 1.0 and pairs[(2, 5)] == 1.0
    assert 0.5 <= pairs[(1, 3)] < 1.0
    assert (1, 4) not in pairs


def test_ngram_jaccard_df_pruned_blocking_matches_exact(spark, monkeypatch):
    """Stop-shingle pruning (blocking only) must find the same ≥τ pairs on
    testdata, with identical jaccard values (verification uses full sets)."""
    import pyspark.sql.functions as F  # noqa: F401

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dd.ngram_jaccard_pairs(docs, 0.8).collect()
    }
    with _capped_blocking(monkeypatch, 20):
        pruned = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in dd.ngram_jaccard_pairs(docs, 0.8).collect()
        }
    assert pruned == exact


def test_minhash_lsh_finds_exact_and_near_dups(spark):
    pairs = {(r["id_a"], r["id_b"]) for r in dd.minhash_lsh_pairs(_docs(spark), 0.5).collect()}
    assert {(1, 2), (1, 5), (2, 5)} <= pairs
    assert (1, 4) not in pairs


def test_minhash_signatures_with_duplicate_doc_id(spark, monkeypatch):
    """A doc id held by two rows with different text: the distinct-shingle
    dim must rebuild each shingle from the one text its representative came
    from, so the signatures equal the inline-digest branch's."""
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
    dim = sorted(tuple(r) for r in dd.minhash_signatures(docs).collect())
    from entity_extractor_by_pointer_spark import cache

    monkeypatch.setattr(cache, "BROADCAST_ROWS_MAX", 0)
    inline = sorted(tuple(r) for r in dd.minhash_signatures(docs).collect())
    assert len(dim) == 4
    assert dim == inline


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
    blocked = {(r["id_a"], r["id_b"]) for r in dd.simhash_pairs(docs, 3).collect()}
    assert blocked == exact
    assert (1, 2) in blocked  # identical text → identical signature


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


def test_distributed_cc_collapses_61_node_chain(spark, monkeypatch):
    """A 61-node chain is one component on the distributed path within the
    default round budget (min-label propagation needs 60 rounds here)."""
    monkeypatch.setattr(canonicalize, "CC_DRIVER_THRESHOLD", 0)
    cc = {r["id"]: r["canon_id"] for r in connected_components(_chain_edges(spark, 60)).collect()}
    assert set(cc.values()) == {"n00"}
    assert len(cc) == 61


def test_distributed_cc_raises_when_not_converged(spark, monkeypatch):
    monkeypatch.setattr(canonicalize, "CC_DRIVER_THRESHOLD", 0)
    monkeypatch.setattr(canonicalize, "CC_MAX_ITER", 1)
    with pytest.raises(RuntimeError, match="did not converge within CC_MAX_ITER=1"):
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


def test_blocked_cosine_arrow_pass_finds_identical_pairs(spark):
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
    pairs = dd.embedding_cosine_pairs_blocked(
        df.unionAll(df.withColumn("vec_id", F.col("vec_id") + 1000)), 0.999
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(i, i + 1000) for i in range(50)}
    assert all(abs(r["cosine"] - 1.0) < 1e-9 for r in pairs)


def test_blocked_cosine_equals_bruteforce_on_neardup_corpus(spark):
    """The LSH-banded blocked near-dup (the crawl-scale default) must return
    exactly the brute-force pairs on the derived near-dup corpus."""
    import __spark_entry__ as E

    aug = E._augmented_embeddings(spark, "/root/testdata/sf0.001")
    blocked = {
        tuple(r) for r in dd.embedding_cosine_pairs_blocked(aug, 0.95).collect()
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
           dd.ngram_jaccard_pairs(docs, 0.8).collect()}
    assert got == {(1, 2): 0.8}, got


def test_jaccard_df_cap_prunes_hot_shingles_from_blocking(spark, monkeypatch):
    """A pair whose ONLY shared shingles are hotter than the cap must be
    dropped by capped blocking (and found by exact blocking) — i.e. the cap
    genuinely bounds the candidate join's per-shingle fan-out."""
    hot = "the quick brown"  # shared 3-shingle, df = 6 below
    rows = [(i, f"{hot} fox{i} a{i} b{i} c{i} d{i} e{i}") for i in range(1, 7)]
    # two docs sharing ONLY the hot shingle with high enough jaccard
    rows += [(10, "the quick brown"), (11, "the quick brown")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {(r["id_a"], r["id_b"]) for r in dd.ngram_jaccard_pairs(docs, 0.9).collect()}
    with _capped_blocking(monkeypatch, 4):
        capped = {(r["id_a"], r["id_b"]) for r in dd.ngram_jaccard_pairs(docs, 0.9).collect()}
    assert (10, 11) in exact
    assert (10, 11) not in capped  # its only shingle has df=8 > cap
    assert capped <= exact


def test_ann_topk_ivf_exact_within_cell(spark):
    """IVF probe (nprobe=1) must return exactly the numpy top-k computed
    over the query's own coarse cell."""
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(60, 64)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(60)],
        "vec_id long, embedding array<float>",
    )
    got = {}
    for r in sim.ann_topk_ivf(df, df.where("vec_id < 4"), k=3).collect():
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


def test_capped_jaccard_semantics_on_randomized_corpora(spark, monkeypatch):
    """Randomized check of the capped path's contract: capped ⊆ exact with
    identical scores, and every missed pair shares ONLY hot shingles
    (df > cap) — i.e. the bound-prune never drops a findable pair."""
    import itertools
    import random

    rnd = random.Random(20260816)
    vocab = [f"w{i}" for i in range(12)] + ["the", "of", "and"]  # hot-ish tail
    for trial in range(6):
        docs_py = []
        for i in range(14):
            n = rnd.randint(0, 9)
            words = [rnd.choice(vocab) for _ in range(n)]
            docs_py.append((i, " ".join(words)))
        # a couple of near-dup pairs
        docs_py.append((100, docs_py[0][1]))
        docs_py.append((101, docs_py[1][1] + " tail"))
        docs = spark.createDataFrame(docs_py, "doc_id long, text string")
        cap = rnd.choice([1, 2, 3, 5])
        thr = rnd.choice([0.5, 0.8])
        exact = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in dd.ngram_jaccard_pairs(docs, thr).collect()
        }
        with _capped_blocking(monkeypatch, cap):
            capped = {
                (r["id_a"], r["id_b"]): r["jaccard"]
                for r in dd.ngram_jaccard_pairs(docs, thr).collect()
            }
        assert set(capped) <= set(exact), (trial, cap, thr)
        for k, v in capped.items():
            assert v == exact[k], (trial, k)
        # python recompute: missed pairs must share only hot shingles
        def shingles(t):
            w = " ".join(t.lower().split()).split(" ")
            w = [x for x in w]
            return set(
                " ".join(w[j : j + 3]) for j in range(len(w) - 2)
            ) if len(w) >= 3 and t.strip() else set()

        sh = {i: shingles(t) for i, t in docs_py}
        df_count = {}
        for s in itertools.chain.from_iterable(sh.values()):
            df_count[s] = df_count.get(s, 0) + 1
        # rebuild df properly (distinct per doc already via sets)
        df_count = {}
        for sset in sh.values():
            for s in sset:
                df_count[s] = df_count.get(s, 0) + 1
        for pair in set(exact) - set(capped):
            shared = sh[pair[0]] & sh[pair[1]]
            assert shared and all(df_count[s] > cap for s in shared), (trial, pair, cap)


def test_corpus_curation_precedence(spark):
    """Verdict precedence: exact_dup beats lang beats quality beats kept."""
    from entity_extractor_by_pointer_spark.operators.curation import curate_corpus

    good = "the cat and the dog walked to the park and sat in the sun " * 6
    rows = [
        (1, good, "en"),            # kept
        (2, good, "xx"),            # lang (content dups doc 1? same text → exact_dup!)
        (3, "!!! ??? ***", "en"),   # quality (short, punct-heavy)
        (4, good + " unique", "xx"),  # lang
    ]
    out = {r["doc_id"]: r["verdict"] for r in curate_corpus(
        spark.createDataFrame(rows, "doc_id long, text string, lang string"),
        keep_langs=("en",), quality_floor=0.5,
    ).collect()}
    assert out[1] == "kept"
    assert out[2] == "exact_dup"  # dup of doc 1 wins over its bad lang
    assert out[3] == "quality"
    assert out[4] == "lang"


def test_kmeans_centroids_match_numpy_lloyd(spark):
    """Distributed Lloyd ≡ single-process numpy Lloyd with the same
    per-iteration 6-dp rounding and empty-cell keep rule."""
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got = {(r["cell"], r["dim"]): r["val"] for r in sim.kmeans_centroids(e, iterations=3).collect()}

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


def test_kmeans_dead_cell_and_length_mismatch_excluded(spark):
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
    got = {
        (r["cell"], r["dim"]): r["val"]
        for r in sim.kmeans_centroids(emb, iterations=1, centroids=cents).collect()
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
    got2 = {
        (r["cell"], r["dim"]): r["val"]
        for r in sim.kmeans_centroids(emb2, iterations=1, centroids=cents3).collect()
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


def test_jaccard_auto_cap_plan_selection(spark, monkeypatch):
    """Census-picked blocking: exact plan for corpora at/below
    ``JACCARD_AUTO_DOCS`` (no hot-shingle anti-join), capped plan above it —
    at both ends the pair set matches exact blocking."""
    import entity_extractor_by_pointer_spark.operators.dedup as dd

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta") for i in range(6)]
        + [(10, "one two three four five"), (11, "one two three four five")],
        "doc_id long, text string",
    )
    # exact blocking at the default threshold is the reference
    ref = sorted(tuple(r) for r in dd.ngram_jaccard_pairs(docs, 0.8).collect())
    # census (8 docs) at the threshold → exact (cap resolves to None)
    monkeypatch.setattr(dd, "JACCARD_AUTO_DOCS", 8)
    assert dd._cap_for(docs.count()) is None
    exact_plan = dd.ngram_jaccard_pairs(docs, 0.8)
    assert "LeftAnti" not in exact_plan._jdf.queryExecution().executedPlan().toString()
    # census above threshold → capped
    monkeypatch.setattr(dd, "JACCARD_AUTO_DOCS", 7)
    assert dd._cap_for(docs.count()) == dd.JACCARD_AUTO_CAP
    capped_plan = dd.ngram_jaccard_pairs(docs, 0.8)
    assert "LeftAnti" in capped_plan._jdf.queryExecution().executedPlan().toString()
    # both ends agree with exact blocking
    assert sorted(tuple(r) for r in exact_plan.collect()) == ref
    assert sorted(tuple(r) for r in capped_plan.collect()) == ref


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
        for r in dd._hashed_shingle_arrays(docs, "doc_id", "text").collect()
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
            F.expr(dd._shingle_arr_sql(dd.NGRAM_N, hashed=True, positional=True))
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
    ref = sorted(tuple(r) for r in dd.ngram_jaccard_pairs(docs, 0.8).collect())

    def _n_reparts(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.count("REPARTITION_BY_NUM")

    # census (8 docs) below the wide gate → no extra repartition exchange
    below = dd.ngram_jaccard_pairs(docs, 0.8)
    n_below = _n_reparts(below)
    # lower the gate under the corpus size → exactly one more
    monkeypatch.setattr(dd, "PAIR_AGG_WIDE_DOCS", 4)
    above = dd.ngram_jaccard_pairs(docs, 0.8)
    assert _n_reparts(above) == n_below + 1
    assert sorted(tuple(r) for r in above.collect()) == ref
    assert sorted(tuple(r) for r in below.collect()) == ref


def test_ann_topk_ivf_materialized_probe_and_nprobe(spark, tmp_path):
    """The probe over a materialized cell-partitioned corpus (a) returns the
    same rows as inline cell computation, (b) partition-prunes the corpus
    scan (DPP on cell), and (c) nprobe=2's result set contains nprobe=1's
    neighbors per query (recall is monotone in nprobe)."""
    import numpy as np

    import entity_extractor_by_pointer_spark.operators.similarity as sim

    rng = np.random.default_rng(7)
    rows = [(int(i), [float(x) for x in rng.normal(0, 1, sim.ANN_DIM)]) for i in range(64)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qs = df.where("vec_id < 4")

    mat = sim.materialize_ivf_corpus(df, str(tmp_path / "ivf"))
    inline = sorted(tuple(r) for r in sim.ann_topk_ivf(df, qs, k=3).collect())
    assigned = sorted(tuple(r) for r in sim.ann_topk_ivf(df, qs, k=3, assigned=mat).collect())
    assert inline == assigned

    probe2 = sim.ann_topk_ivf(df, qs, k=3, nprobe=2, assigned=mat)
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


def test_boilerplate_stats_hand_computed(spark):
    """3-word shingles; 'the same footer' appears in docs 1-3 (df=3 ≥
    min_df=2 with the unique middles below it), doc 4 shares nothing,
    doc 5 is too short for any shingle."""
    from entity_extractor_by_pointer_spark.operators.curation import boilerplate_stats

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
        for r in boilerplate_stats(docs, min_df=2).collect()
    }
    # doc 1: shingles {alpha beta the, beta the same, the same footer} → 1 hot
    assert got[1] == (3, 1, round(1 / 3, 6))
    assert got[2] == (3, 1, round(1 / 3, 6))
    assert got[3] == (1, 1, 1.0)
    assert got[4] == (2, 0, 0.0)
    assert got[5] == (0, 0, 0.0)  # shingle-less doc still gets a row


def test_boilerplate_stats_matches_python_reference_randomized(spark):
    """Randomized corpora vs an independent pure-python shingle-df census."""
    import random
    import re

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
        got = {
            r["doc_id"]: (r["n_shingles"], r["n_boiler"], r["boiler_ratio"])
            for r in boilerplate_stats(docs, min_df=min_df).collect()
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


def test_chunk_documents_hand_computed_and_reconstruction(spark):
    """Window boundaries, short-doc and empty-doc cases; and removing the
    overlap from every chunk after the first reconstructs the document."""
    import pytest

    from entity_extractor_by_pointer_spark.functions.textstats import chunk_documents

    docs = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(10))), (2, "short doc"), (3, "")],
        "doc_id long, text string",
    )
    rows = sorted(
        (r["doc_id"], r["chunk_id"], r["n_tokens"], r["chunk_text"])
        for r in chunk_documents(docs, chunk_tokens=4, overlap=1).collect()
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

    with pytest.raises(ValueError):
        chunk_documents(docs, chunk_tokens=4, overlap=4)


def test_containment_is_directional(spark):
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
        for r in dd.containment_pairs(docs, 0.9).collect()
    }
    assert got == {(2, 1): 1.0}  # fragment→source only; source→fragment ~0.2
    # and Jaccard at the same threshold sees nothing
    assert dd.ngram_jaccard_pairs(docs, 0.9).count() == 0


def test_capped_containment_matches_exact(spark, monkeypatch):
    """The directional no-false-prune bound (n_inter ≥ τ·min(n_a, n_b)):
    capped ⊆ exact with identical scores on randomized corpora, and equal
    on testdata where no qualifying pair is hot-only."""
    import random

    rnd = random.Random(20260817)
    vocab = [f"w{i}" for i in range(12)] + ["the", "of", "and"]
    for trial in range(6):
        docs_py = []
        for i in range(14):
            words = [rnd.choice(vocab) for _ in range(rnd.randint(0, 9))]
            docs_py.append((i, " ".join(words)))
        docs_py.append((100, docs_py[0][1]))
        docs_py.append((101, " ".join(docs_py[1][1].split(" ")[:5])))
        docs = spark.createDataFrame(docs_py, "doc_id long, text string")
        cap = rnd.choice([1, 2, 3, 5])
        thr = rnd.choice([0.5, 0.9])
        exact = {
            (r["id_a"], r["id_b"]): r["containment"]
            for r in dd.containment_pairs(docs, thr).collect()
        }
        with _capped_blocking(monkeypatch, cap):
            capped = {
                (r["id_a"], r["id_b"]): r["containment"]
                for r in dd.containment_pairs(docs, thr).collect()
            }
        assert set(capped) <= set(exact), (trial, cap, thr)
        assert all(capped[k] == exact[k] for k in capped), (trial, cap, thr)

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    exact = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in dd.containment_pairs(docs, 0.9).collect()
    }
    with _capped_blocking(monkeypatch, 20):
        capped = {
            (r["id_a"], r["id_b"]): r["containment"]
            for r in dd.containment_pairs(docs, 0.9).collect()
        }
    assert capped == exact


def test_adaptive_quality_flags_per_language_floor(spark):
    """Each language's floor is the quality at rank ceil(0.25*n) in
    (quality, doc_id) order; keep = quality >= own-language floor — a doc
    that fails the global floor can survive under its language's floor."""
    from entity_extractor_by_pointer_spark.operators.curation import (
        adaptive_quality_flags,
    )

    good_en = "the cat and the dog was in the house of the king " * 8
    rows = (
        [(i, good_en, "en") for i in range(6)]
        + [(10, "x!!! ??? !!!", "en")]                      # en low outlier
        + [(20 + i, "word " * (4 + i), "de") for i in range(4)]  # de: low abs scores
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r["doc_id"]: r for r in adaptive_quality_flags(docs, pct=0.25).collect()}
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


def test_vocab_edit_pairs_blocking_is_exhaustive(spark):
    """SymSpell deletion-signature blocking + levenshtein verify must equal
    brute-force O(V^2) enumeration on a randomized vocabulary, at both
    max_dist=1 and 2 (deletion-neighborhood completeness)."""
    import itertools
    import random

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
        got = {
            (r["term_a"], r["term_b"]): r["dist"]
            for r in vocab_edit_pairs(docs, max_dist=md).collect()
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
        for r in contamination_flags(docs, bench, n=8).collect()
    }
    # bench (10 words) has 3 distinct 8-grams, all present in doc 1
    assert got[1] == (3, True)
    assert got[2] == (0, False)
    assert got[3] == (0, False)
    assert got[4] == (0, False)


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
    out = balance_sources(docs, max_share_pct=20).collect()
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
    again = balance_sources(docs.repartition(13), max_share_pct=20).collect()
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
