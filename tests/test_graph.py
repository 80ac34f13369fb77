"""Graph analytics over the triple table: degrees + fixed-iteration
PageRank vs an independent numpy implementation."""

import numpy as np
import pytest

from entity_extractor_by_pointer_spark.operators import graph
from entity_extractor_by_pointer_spark.operators.graph import entity_degrees, pagerank


def _triples(spark):
    rows = [
        ("a", "p", "b", "u1"),
        ("a", "p", "c", "u1"),
        ("b", "p", "c", "u2"),
        ("c", "p", "a", "u3"),
        ("a", "p", "b", "u4"),  # duplicate edge across docs → one edge
    ]
    return spark.createDataFrame(rows, "subj string, pred string, obj string, url string")


def test_entity_degrees(spark):
    d = {r["entity"]: (r["out_deg"], r["in_deg"], r["degree"]) for r in entity_degrees(_triples(spark)).collect()}
    assert d == {"a": (2, 1, 3), "b": (1, 1, 2), "c": (1, 2, 3)}


def test_pagerank_matches_numpy_power_iteration(spark):
    got = {r["entity"]: r["rank"] for r in pagerank(_triples(spark)).collect()}
    nodes = ["a", "b", "c"]
    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a")]
    out_deg = {n: sum(1 for s, _ in edges if s == n) for n in nodes}
    n = len(nodes)
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(5):
        inflow = {v: 0.0 for v in nodes}
        for s, o in edges:
            inflow[o] += rank[s] / out_deg[s]
        rank = {v: (1.0 - 0.85) / n + 0.85 * inflow[v] for v in nodes}
    for v in nodes:
        assert abs(got[v] - round(rank[v], 6)) < 1e-9, (v, got[v], rank[v])
    # ranks are a probability-ish distribution (absorbing variant ≤ 1)
    assert 0.99 < sum(rank.values()) <= 1.000001


def test_pagerank_dangling_node_keeps_base_mass(spark, monkeypatch):
    t = spark.createDataFrame([("a", "p", "b", "u")], "subj string, pred string, obj string, url string")
    monkeypatch.setattr(graph, "PAGERANK_ITERS", 3)
    got = {r["entity"]: r["rank"] for r in pagerank(t).collect()}
    # b has no out-edges (dangling, absorbing variant): contributes nothing
    assert got["a"] == round((1 - 0.85) / 2, 6)
    assert got["b"] > got["a"]


@pytest.mark.parametrize("gazetteer", ["DOCS_GAZETTEER", "PAGES_GAZETTEER"])
def test_canonical_ids_are_bounded_by_the_gazetteer(spark, gazetteer):
    """The bound the entity-keyed operators rest on: linking drops every
    out-of-dictionary surface, so each canonical id is a gazetteer id or a
    duplicate-edge id, and there are at most 9 of them."""
    from entity_extractor_by_pointer_spark.functions import gazetteer as G
    from entity_extractor_by_pointer_spark.plans.pipeline import canonical_mentions

    gaz = getattr(G, gazetteer)
    surfaces = [n for n, _t, _e in G.DOCS_GAZETTEER + G.PAGES_GAZETTEER]
    surfaces += [" SPARK ", "Acme", "李", "nobody", "spark vector", ""]
    mentions = spark.createDataFrame(
        [(d, "person", s) for d in range(3) for s in surfaces],
        "doc_id long, type string, entity string",
    )
    ids = {
        r["canon_id"]
        for r in canonical_mentions(mentions, gaz, G.CANON_EDGES).select("canon_id").distinct().collect()
    }
    allowed = {e for _n, _t, e in gaz} | {x for edge in G.CANON_EDGES for x in edge}
    assert ids and ids <= allowed, ids - allowed
    assert len(ids) <= 9


def test_entity_pmi_edges_hand_computed(spark):
    """4 docs: (x,y) together twice, (x,z) once, z alone once.
    N=4, df(x)=3, df(y)=2, df(z)=2, co(x,y)=2, co(x,z)=1."""
    import math

    from entity_extractor_by_pointer_spark.operators.graph import entity_pmi_edges

    rows = [
        (1, "x"), (1, "y"),
        (2, "x"), (2, "y"),
        (3, "x"), (3, "z"),
        (4, "z"),
        (2, "x"),  # duplicate mention in one doc → counted once
    ]
    cm = spark.createDataFrame(rows, "doc_id long, canon_id string")
    got = {
        (r["entity_a"], r["entity_b"]): (r["co_docs"], r["pmi"])
        for r in entity_pmi_edges(cm).collect()
    }
    assert got == {
        ("x", "y"): (2, round(math.log(2 * 4 / (3 * 2)), 6)),
        ("x", "z"): (1, round(math.log(1 * 4 / (3 * 2)), 6)),
    }
    # (x,y) genuinely associated (pmi > 0); (x,z) below-chance (pmi < 0)
    assert got[("x", "y")][1] > 0 > got[("x", "z")][1]


def test_entity_pmi_edges_matches_python_reference_randomized(spark):
    """Randomized corpora, and a link-farm page with 300 canonical entities
    beside ten ordinary pages, vs an independent pure-python PMI
    computation: the farm's 44,850 pairs are kept, as in the oracle."""
    import math
    import random

    from entity_extractor_by_pointer_spark.cache import release_all
    from entity_extractor_by_pointer_spark.operators.graph import entity_pmi_edges

    rng = random.Random(7)
    ents = ["e1", "e2", "e3", "e4", "e5"]
    corpora = []
    for _trial in range(3):
        rows = []
        docs = {}
        for d in range(rng.randint(5, 30)):
            k = rng.randint(0, 4)
            s = set(rng.sample(ents, k))
            docs[d] = s
            rows += [(d, e) for e in s]
            # duplicates must not change anything
            rows += [(d, e) for e in list(s)[:1]]
        corpora.append((rows, docs))
    farm = {d: {f"E{d % 3}", f"E{d % 3 + 1}"} for d in range(10)}
    farm[99] = {f"H{e}" for e in range(300)}
    corpora.append(([(d, e) for d, s in farm.items() for e in s], farm))
    try:
        for trial, (rows, docs) in enumerate(corpora):
            if not rows:
                continue
            cm = spark.createDataFrame(rows, "doc_id long, canon_id string")
            got = {
                (r["entity_a"], r["entity_b"]): (r["co_docs"], r["pmi"])
                for r in entity_pmi_edges(cm).collect()
            }
            n = len({d for d, s in docs.items() if s})
            df = {}
            co = {}
            for d, s in docs.items():
                for e in s:
                    df[e] = df.get(e, 0) + 1
                for a in s:
                    for b in s:
                        if a < b:
                            co[(a, b)] = co.get((a, b), 0) + 1
            want = {
                p: (c, round(math.log(c * n / (df[p[0]] * df[p[1]])), 6))
                for p, c in co.items()
            }
            assert got == want, (trial, len(got), len(want))
    finally:
        release_all()
    # the farm ran last: every pair of its 300 entities is an edge
    assert sum(a.startswith("H") for a, _b in want) == 300 * 299 // 2


def test_pagerank_random_graph_matches_numpy(spark, monkeypatch):
    """500-node random graph (not the 4-node KG toy): 6 iterations of the
    distributed join+agg loop equal numpy power iteration to the rounding
    grid, including dangling nodes and the localCheckpoint truncation at
    iteration 3."""
    import random

    rng = random.Random(13)
    n_nodes = 500
    edges = set()
    while len(edges) < 2000:
        a, b = rng.randrange(n_nodes), rng.randrange(n_nodes)
        if a != b:
            edges.add((f"n{a}", f"n{b}"))
    rows = [(a, "p", b, "u") for a, b in edges]
    t = spark.createDataFrame(rows, "subj string, pred string, obj string, url string")
    monkeypatch.setattr(graph, "PAGERANK_ITERS", 6)
    got = {r["entity"]: r["rank"] for r in pagerank(t).collect()}

    nodes = sorted({x for e in edges for x in e})
    out_deg = {}
    for a, _b in edges:
        out_deg[a] = out_deg.get(a, 0) + 1
    n = len(nodes)
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(6):
        inflow = {v: 0.0 for v in nodes}
        for a, b in edges:
            inflow[b] += rank[a] / out_deg[a]
        rank = {v: (1 - 0.85) / n + 0.85 * inflow[v] for v in nodes}
    assert len(got) == n
    for v in nodes:
        assert abs(got[v] - round(rank[v], 6)) <= 2e-6, (v, got[v], rank[v])


def test_triangle_counts_random_graph_vs_bruteforce(spark):
    """Degree-oriented wedge join == brute-force triangle enumeration on a
    randomized 40-node graph (orientation order is (degree, id) — a plain
    id-order wedge predicate would miss triangles whose closing edge runs
    against it)."""
    import itertools
    import random

    from entity_extractor_by_pointer_spark.cache import release_all
    from entity_extractor_by_pointer_spark.operators.graph import triangle_counts

    rng = random.Random(7)
    nodes = [f"n{i}" for i in range(40)]
    edges = set()
    while len(edges) < 160:
        u, v = rng.sample(nodes, 2)
        edges.add((u, v))
    tr = spark.createDataFrame(
        [(u, "r", v) for u, v in edges], "subj string, pred string, obj string"
    )
    try:
        got = {r["entity"]: r["triangles"] for r in triangle_counts(tr).collect()}
    finally:
        release_all()
    adj = {}
    for e in {frozenset(e) for e in edges}:
        u, v = tuple(e)
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    expect = {n: 0 for n in adj}
    for a, b, c in itertools.combinations(sorted(adj), 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            expect[a] += 1
            expect[b] += 1
            expect[c] += 1
    assert got == expect
    assert sum(expect.values()) > 0  # the graph actually has triangles


def test_related_entities_hand_computed_and_hub_cap(spark):
    """Path graph a-b-c-d plus hub h linked to everything: (a, c) share b
    and h. There is no hub cap: the hub is evidence like any other center,
    as in the oracle."""
    from entity_extractor_by_pointer_spark.cache import release_all
    from entity_extractor_by_pointer_spark.operators.graph import related_entities

    edges = [("a", "b"), ("b", "c"), ("c", "d")]
    hub = [("h", x) for x in ("a", "b", "c", "d")]
    tr = spark.createDataFrame(
        [(u, "r", v) for u, v in edges + hub], "subj string, pred string, obj string"
    )
    try:
        full = {
            (r["entity_a"], r["entity_b"]): (r["common_nbrs"], r["linked"])
            for r in related_entities(tr).collect()
        }
        # a-c share b AND h (common 2, not linked); a-d share only h
        assert full[("a", "c")] == (2, False)
        assert full[("a", "d")] == (1, False)
        assert full[("b", "c")][1] is True  # direct edge flagged
        # jaccard for (a, c): |{b,h}∩{b,d,h}| / |{b,h}∪{b,d,h}|
        jacc_full = {
            (r["entity_a"], r["entity_b"]): r["nbr_jaccard"]
            for r in related_entities(tr).collect()
        }
        assert jacc_full[("a", "c")] == round(2 / 3, 4)
    finally:
        release_all()


def test_personalized_pagerank_vs_numpy(spark):
    """Seeded teleport == numpy power iteration with a personalized
    restart vector on a randomized 60-node graph; global variant unchanged
    (seeds=None still matches its own numpy twin in the earlier test)."""
    import random

    import numpy as np

    from entity_extractor_by_pointer_spark.cache import release_all
    from entity_extractor_by_pointer_spark.operators.graph import pagerank

    rng = random.Random(11)
    nodes = [f"n{i}" for i in range(60)]
    edges = set()
    while len(edges) < 200:
        u, v = rng.sample(nodes, 2)
        edges.add((u, v))
    tr = spark.createDataFrame(
        [(u, "r", v) for u, v in edges], "subj string, pred string, obj string"
    )
    seeds = ("n3", "n7")
    try:
        got = {
            r["entity"]: r["rank"]
            for r in pagerank(tr, seeds=seeds).collect()
        }
    finally:
        release_all()
    idx = {n: i for i, n in enumerate(sorted({x for e in edges for x in e}))}
    n = len(idx)
    out_deg = np.zeros(n)
    for u, v in edges:
        out_deg[idx[u]] += 1
    restart = np.zeros(n)
    for s in seeds:
        restart[idx[s]] = 1.0 / len(seeds)
    r = restart.copy()
    d = 0.85
    for _ in range(5):
        nxt = (1 - d) * restart
        for u, v in edges:
            nxt[idx[v]] += d * r[idx[u]] / out_deg[idx[u]]
        r = nxt
    for name, i in idx.items():
        assert abs(got[name] - round(r[i], 6)) <= 2e-6, name
    # teleport localization: seeds rank above the global-average mass
    assert got["n3"] > 1.0 / n and got["n7"] > 1.0 / n


def test_weighted_pagerank_vs_numpy(spark):
    """weight_col: rank flows proportional to summed edge weights — matches
    numpy power iteration with a weighted transition matrix; weight 1
    everywhere reduces to the unweighted variant exactly."""
    import numpy as np

    from entity_extractor_by_pointer_spark.cache import release_all
    from entity_extractor_by_pointer_spark.operators.graph import pagerank

    rows = [  # (subj, obj, w) with parallel edges pre-summed
        ("a", "b", 3), ("a", "c", 1), ("b", "c", 2), ("c", "a", 5), ("b", "a", 1),
    ]
    tr = spark.createDataFrame(
        [(u, "r", v, w) for u, v, w in rows], "subj string, pred string, obj string, n_docs long"
    )
    try:
        got = {
            r["entity"]: r["rank"]
            for r in pagerank(tr, weight_col="n_docs").collect()
        }
        uni_w = {
            r["entity"]: r["rank"]
            for r in pagerank(
                tr.withColumn("n_docs", tr.n_docs * 0 + 1), weight_col="n_docs"
            ).collect()
        }
        uni = {r["entity"]: r["rank"] for r in pagerank(tr).collect()}
    finally:
        release_all()
    assert uni_w == uni  # weight-1 degenerates to the unweighted operator
    idx = {"a": 0, "b": 1, "c": 2}
    W = np.zeros((3, 3))
    for u, v, w in rows:
        W[idx[u], idx[v]] = w
    outw = W.sum(axis=1)
    d, n = 0.85, 3
    r = np.full(n, 1.0 / n)
    for _ in range(5):
        nxt = np.full(n, (1 - d) / n)
        for i in range(n):
            for j in range(n):
                if W[i, j]:
                    nxt[j] += d * r[i] * W[i, j] / outw[i]
        r = nxt
    for name, i in idx.items():
        assert abs(got[name] - round(r[i], 6)) <= 2e-6, name


def test_predicate_stats_and_metapaths_hand_computed(spark):
    from entity_extractor_by_pointer_spark.cache import release_all
    from entity_extractor_by_pointer_spark.operators.graph import (
        metapath_counts,
        predicate_stats,
    )

    tr = spark.createDataFrame(
        [
            ("a", "p", "b"), ("a", "p", "c"), ("d", "p", "b"),   # p: 3 facts
            ("b", "q", "e"), ("c", "q", "e"),                     # q: 2 facts
        ],
        "subj string, pred string, obj string",
    )
    try:
        ps = {r["pred"]: r for r in predicate_stats(tr).collect()}
        assert (ps["p"]["n_triples"], ps["p"]["n_subj"], ps["p"]["n_obj"]) == (3, 2, 2)
        assert ps["p"]["subj_fanout"] == 1.5
        assert (ps["q"]["n_triples"], ps["q"]["n_subj"], ps["q"]["n_obj"]) == (2, 2, 1)
        # metapaths: a-p->b-q->e, a-p->c-q->e, d-p->b-q->e → (p,q)=3
        mp = {
            (r["pred_a"], r["pred_b"]): r["n_paths"]
            for r in metapath_counts(tr).collect()
        }
        assert mp == {("p", "q"): 3}
    finally:
        release_all()


def test_corrupt_triples_deterministic_flags_and_fanout(spark, monkeypatch):
    from entity_extractor_by_pointer_spark.cache import release_all
    from entity_extractor_by_pointer_spark.operators import kgprep
    from entity_extractor_by_pointer_spark.operators.kgprep import corrupt_triples

    monkeypatch.setattr(kgprep, "KG_NEG_K", 3)
    tr = spark.createDataFrame(
        [("a", "p", "b"), ("b", "p", "c"), ("c", "q", "a"), ("a", "q", "c")],
        "subj string, pred string, obj string",
    )
    try:
        out1 = sorted(map(tuple, corrupt_triples(tr).collect()))
        out2 = sorted(map(tuple, corrupt_triples(tr).collect()))
    finally:
        release_all()
    assert out1 == out2  # hash-derived: reproducible across runs
    assert len(out1) == 4 * 3  # exactly k negatives per triple
    truth = {("a", "p", "b"), ("b", "p", "c"), ("c", "q", "a"), ("a", "q", "c")}
    for subj, pred, obj, idx, neg, flagged in out1:
        assert neg in {"a", "b", "c"}  # drawn from the entity vocabulary
        should_flag = (subj, pred, neg) in truth or neg == obj
        assert flagged == should_flag, (subj, pred, obj, idx, neg)
    # sanity: at least one clean negative exists in this tiny vocab
    assert any(not f for *_x, f in out1)


def test_entity_context_embeddings_hand_computed(spark):
    from entity_extractor_by_pointer_spark.operators.kgprep import (
        entity_context_embeddings,
    )

    cm = spark.createDataFrame(
        [(1, "E1"), (2, "E1"), (2, "E2"), (3, "E2"), (1, "E1")],  # dup pair
        "doc_id long, canon_id string",
    )
    emb = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [3.0, 4.0]), (3, [5.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    got = {
        (r["canon_id"], r["dim"]): r["val"]
        for r in entity_context_embeddings(cm, emb).collect()
    }
    assert got == {
        ("E1", 0): 2.0, ("E1", 1): 3.0,   # mean of docs 1,2 (dup pair once)
        ("E2", 0): 4.0, ("E2", 1): 2.0,   # mean of docs 2,3
    }


def test_entity_related_by_embedding_ranks_by_cosine(spark, monkeypatch):
    """Hand-checkable: E1/E2 share identical context docs (cosine 1), E3
    is orthogonal — each of E1/E2 ranks the other first. The ranking is
    the exact brute-force join (a broadcast nested loop)."""
    from entity_extractor_by_pointer_spark.cache import release_all
    from entity_extractor_by_pointer_spark.operators import kgprep
    from entity_extractor_by_pointer_spark.operators.kgprep import (
        entity_related_by_embedding,
    )

    monkeypatch.setattr(kgprep, "ENTITY_ANN_K", 2)
    cm = spark.createDataFrame(
        [(1, "E1"), (1, "E2"), (2, "E3")], "doc_id long, canon_id string"
    )
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<float>"
    )
    try:
        ranked = entity_related_by_embedding(cm, emb)
        plan = ranked._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" in plan, plan
        got = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in ranked.collect()}
    finally:
        release_all()
    assert got[("E1", 1)] == "E2" and got[("E2", 1)] == "E1"
    assert got[("E1", 2)] == "E3"  # orthogonal last


def test_ntriples_export_encoding_and_sink(spark):
    """N-Triples rendering: IRI-unsafe characters percent-encoded per
    UTF-8 byte and duplicate edges collapsed."""
    from entity_extractor_by_pointer_spark.operators.triples import ntriples_lines

    tr = spark.createDataFrame(
        [
            ("ORG_SPARK", "near", "LOC_中国"),
            ("A B", "rel/x", "c%d"),
            ("ORG_SPARK", "near", "LOC_中国"),  # duplicate edge
        ],
        "subj string, pred string, obj string",
    )
    lines = sorted(r["line"] for r in ntriples_lines(tr).collect())
    assert lines == [
        "<http://kg.example/e/A%20B> <http://kg.example/p/rel%2Fx> "
        "<http://kg.example/e/c%25d> .",
        "<http://kg.example/e/ORG_SPARK> <http://kg.example/p/near> "
        "<http://kg.example/e/LOC_%E4%B8%AD%E5%9B%BD> .",
    ]
    # empty-string term: encodes to an empty IRI path segment, never the
    # invalid '%%' that sequence(1, 0)'s descending default produced
    empty = spark.createDataFrame(
        [("", "p", "x")], "subj string, pred string, obj string"
    )
    (line,) = [r["line"] for r in ntriples_lines(empty).collect()]
    assert line == (
        "<http://kg.example/e/> <http://kg.example/p/p> "
        "<http://kg.example/e/x> ."
    )
    assert "%%" not in line


def test_pagerank_empty_graph_returns_empty_frame(spark):
    """No triples → no nodes: global, weighted and seeded PageRank all return
    an empty (entity, rank) frame, as the unrolled SQL oracle does (global
    and weighted used to divide by the node count of 0)."""
    t = spark.createDataFrame([], "subj string, pred string, obj string, n_docs long")
    for kwargs in ({}, {"weight_col": "n_docs"}, {"seeds": ("a",)}):
        ranks = pagerank(t, **kwargs)
        assert ranks.columns == ["entity", "rank"], kwargs
        assert dict(ranks.dtypes) == {"entity": "string", "rank": "double"}, kwargs
        assert ranks.collect() == [], kwargs


def test_repetition_stats_matches_python_reference_randomized(spark):
    """Randomized word-soup docs vs a pure-python reference for both
    repetition signals."""
    import random

    from entity_extractor_by_pointer_spark.functions.textstats import (
        repetition_stats,
    )

    rng = random.Random(5)
    vocab = ["aa", "bb", "cc", "dd"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 12))))
        for i in range(40)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_grams"], r["dup_gram_ratio"], r["top_word_share"])
        for r in repetition_stats(docs).collect()
    }
    for i, text in rows:
        w = text.split()
        grams = [" ".join(w[j : j + 3]) for j in range(len(w) - 2)] if len(w) >= 3 else []
        dup = round((len(grams) - len(set(grams))) / len(grams), 4) if grams else 0.0
        top = round(max(w.count(x) for x in set(w)) / len(w), 4) if w else 0.0
        assert got[i] == (len(grams), dup, top), (i, text, got[i])
