"""Gazetteer, alias dictionary, and predicate rule for the KG pipeline.

The reference emits spans only; entity linking / canonicalization / triple
construction are new Spark-native stages mandated by the north rule
(SURVEY.md §2 "operators the reference does NOT have", §7.4). Everything here
is deterministic and closed-form so DuckDB oracle SQL can reproduce it.

Two gazetteers:

- ``DOCS_GAZETTEER`` targets the driver's synthetic ``documents`` table
  (closed vocabulary; every name chosen so it never occurs as a substring of
  another vocabulary word — verified in tests — making ``instr``-style SQL
  oracles exact).
- ``PAGES_GAZETTEER`` (CJK + ASCII names) is planted by the synthetic pages
  generator and exercised by the model-path tests.

The gazetteer scorer applies the same decode-side char conventions as the
model path (inclusive end offsets, set semantics downstream) but matches
token-aligned surface forms directly — it is the deterministic stand-in for
a trained model when the pipeline output must be semantically meaningful.
"""

from __future__ import annotations

from .tokenizer import basic_tokenize

# name → (type, canonical entity id)
DOCS_GAZETTEER: list[tuple[str, str, str]] = [
    ("spark", "organization", "ORG_SPARK"),
    ("vector", "organization", "ORG_VECTOR"),
    ("customer", "person", "PER_CUSTOMER"),
    ("query", "person", "PER_QUERY"),
    ("window", "location", "LOC_WINDOW"),
    ("stream", "location", "LOC_STREAM"),
]

# canonicalization: alias-graph edges merging entity ids into canonical ids.
# ORG_VECTOR is declared a duplicate of ORG_SPARK and LOC_STREAM of
# LOC_WINDOW, so connected components has real work to do.
CANON_EDGES: list[tuple[str, str]] = [
    ("ORG_VECTOR", "ORG_SPARK"),
    ("LOC_STREAM", "LOC_WINDOW"),
]

# deterministic predicate rule f(type_subj, type_obj) (SURVEY.md §7.4)
PREDICATE_RULE: dict[tuple[str, str], str] = {
    ("person", "organization"): "affiliated_with",
    ("organization", "person"): "employs",
    ("person", "location"): "located_in",
    ("organization", "location"): "based_in",
    ("location", "person"): "hosts",
    ("location", "organization"): "hosts_org",
    ("person", "person"): "knows",
    ("organization", "organization"): "partners_with",
    ("location", "location"): "near",
}

PAGES_GAZETTEER: list[tuple[str, str, str]] = [
    ("李明", "person", "PER_LIMING"),
    ("王芳", "person", "PER_WANGFANG"),
    ("张伟", "person", "PER_ZHANGWEI"),
    ("北京", "location", "LOC_BEIJING"),
    ("上海", "location", "LOC_SHANGHAI"),
    ("广州", "location", "LOC_GUANGZHOU"),
    ("华为", "organization", "ORG_HUAWEI"),
    ("阿里巴巴", "organization", "ORG_ALIBABA"),
    ("Acme Corp", "organization", "ORG_ACME"),
]


class TokenAhoCorasick:
    """Aho-Corasick automaton over TOKEN sequences — the production
    gazetteer matcher. One pass over a doc's tokens finds every gazetteer
    match in O(n_tokens + n_matches), independent of dictionary size; build
    it once per executor task from the gazetteer and call :meth:`spans` per
    doc (the north rule's salted-broadcast linking dim is exactly this
    shape: ~10⁶ alias surfaces × 10¹² docs means per-needle scans are off
    the table). Matching whole tokens, it needs no separator character, so
    names and texts containing NUL match like any other.

    Emits matches in the same order as :func:`gazetteer_spans` (gazetteer-
    major, position-minor); :func:`gazetteer_spans` is the spec it is
    pytest-pinned against on randomized dictionaries."""

    def __init__(self, gazetteer: list[tuple[str, str, str]]):
        # trie over token tuples; each node: dict token -> node id
        self.next: list[dict[str, int]] = [{}]
        self.out: list[list[tuple[int, int]]] = [[]]  # (gaz_index, n_tokens)
        self.fail: list[int] = [0]
        self.gazetteer = gazetteer
        for gi, (name, _etype, _eid) in enumerate(gazetteer):
            toks = [t for t, _, _ in basic_tokenize(name)]
            if not toks:
                continue
            node = 0
            for tok in toks:
                nxt = self.next[node].get(tok)
                if nxt is None:
                    nxt = len(self.next)
                    self.next[node][tok] = nxt
                    self.next.append({})
                    self.out.append([])
                    self.fail.append(0)
                node = nxt
            self.out[node].append((gi, len(toks)))
        # BFS failure links (standard construction)
        from collections import deque

        q = deque()
        for child in self.next[0].values():
            q.append(child)
        while q:
            node = q.popleft()
            for tok, child in self.next[node].items():
                q.append(child)
                f = self.fail[node]
                while f and tok not in self.next[f]:
                    f = self.fail[f]
                self.fail[child] = self.next[f].get(tok, 0) if self.next[f].get(tok, 0) != child else 0
                self.out[child] = self.out[child] + self.out[self.fail[child]]

    def spans(
        self, text: str, max_tokens: int | None = None
    ) -> list[tuple[str, str, int, int]]:
        toks = basic_tokenize(text)
        if max_tokens is not None:
            toks = toks[: max_tokens - 2]
        node = 0
        hits: list[tuple[int, int, int]] = []  # (gaz_index, tok_start, tok_end)
        nxt, fail, out = self.next, self.fail, self.out
        for i, (tok, _s, _e) in enumerate(toks):
            while node and tok not in nxt[node]:
                node = fail[node]
            node = nxt[node].get(tok, 0)
            for gi, k in out[node]:
                hits.append((gi, i - k + 1, i))
        hits.sort()  # gazetteer-major, position-minor — reference order
        res: list[tuple[str, str, int, int]] = []
        for gi, ti, tj in hits:
            s = toks[ti][1]
            e = toks[tj][2] - 1  # end-inclusive
            res.append((self.gazetteer[gi][1], text[s : e + 1], s, e))
        return res


def gazetteer_spans(
    text: str,
    gazetteer: list[tuple[str, str, str]],
    max_tokens: int | None = None,
) -> list[tuple[str, str, int, int]]:
    """All token-aligned occurrences of gazetteer names in ``text``.

    Returns (type, surface, char_start, char_end_inclusive) per occurrence —
    the reference's inclusive-end char convention (``engines/data.py:104``).
    ``max_tokens`` reproduces the model path's truncation window: matches
    starting beyond the first ``max_tokens − 2`` tokens are invisible, like
    spans past ``max_sequence_length`` (``engines/data.py:24-29``).

    Spec implementation, kept as the test oracle for :class:`TokenAhoCorasick`.
    """
    toks = basic_tokenize(text)
    if max_tokens is not None:
        toks = toks[: max_tokens - 2]
    n = len(toks)
    # index token sequences by first-token surface for O(n·G) matching
    out: list[tuple[str, str, int, int]] = []
    for name, etype, _eid in gazetteer:
        name_toks = [t for t, _, _ in basic_tokenize(name)]
        if not name_toks:
            continue
        k = len(name_toks)
        for i in range(n - k + 1):
            if [t for t, _, _ in toks[i : i + k]] == name_toks:
                start = toks[i][1]
                end = toks[i + k - 1][2] - 1  # end-inclusive
                out.append((etype, text[start : end + 1], start, end))
    return out
