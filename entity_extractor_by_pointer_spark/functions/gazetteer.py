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
``GazetteerMatcher`` is the production matcher; it reads the batch tokenizer
the model uses. ``gazetteer_spans`` is its per-document spec.
"""

from __future__ import annotations

import numpy as np

from .tokenizer import VOCAB_SIZE, basic_tokenize, tokenize_batch

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


_KEY_TOKENS = 4  # token ids packed into one int64 probe key
_ID_BITS = 15


def _pack(tid: np.ndarray, pos: np.ndarray, k: int) -> np.ndarray:
    """One int64 key per position: the ids of tokens pos .. pos+k−1."""
    key = np.zeros(len(pos), dtype=np.int64)
    for j in range(k):
        key |= tid[pos + j].astype(np.int64) << (_ID_BITS * j)
    return key


def _token_text(text: str, start: int, end: int) -> str:
    """The token string of ``text[start:end]``: ASCII-alnum runs are
    lowercased, a single other codepoint is kept as is."""
    tok = text[start:end]
    return tok.lower() if tok.isascii() else tok


class GazetteerMatcher:
    """Every token-aligned occurrence of every gazetteer name in a batch of
    texts, from one ``tokenize_batch`` pass over the batch — the production
    gazetteer matcher. Build it once per task; it equals
    :func:`gazetteer_spans` applied to each text (pinned by hypothesis
    tests), including names and texts that contain NUL.

    Names are grouped by k = min(name tokens, 4). For each k, the ids of k
    consecutive tokens of one document are packed into one int64 key and
    probed against the group's sorted name keys with ``np.searchsorted``.
    Token ids are crc32 hashes and can collide, so every candidate is then
    checked against the name's token strings, which also checks the tokens
    of a longer name past its key."""

    def __init__(self, gazetteer: list[tuple[str, str, str]]):
        assert VOCAB_SIZE < 1 << _ID_BITS, "token ids must fit the key packing"
        names = [name for name, _etype, _eid in gazetteer]
        doc, start, end, tid = tokenize_batch(names)
        self.types = np.array([etype for _name, etype, _eid in gazetteer], dtype=object)
        self.tokens: list[list[str]] = [[] for _ in names]
        for d, s, e in zip(doc.tolist(), start.tolist(), end.tolist()):
            self.tokens[d].append(_token_text(names[d], s, e))
        self.n_tokens = np.bincount(doc, minlength=len(names))
        first = np.cumsum(self.n_tokens) - self.n_tokens
        self.groups = []  # (k, sorted name keys, gazetteer index of each key)
        for k in range(1, _KEY_TOKENS + 1):
            gi = np.flatnonzero(np.minimum(self.n_tokens, _KEY_TOKENS) == k)
            keys = _pack(tid, first[gi], k)
            order = np.argsort(keys, kind="stable")
            if len(gi):
                self.groups.append((k, keys[order], gi[order]))

    def __call__(
        self, texts: list[str], max_tokens: int | None = None
    ) -> tuple[np.ndarray, np.ndarray, list[str], np.ndarray, np.ndarray]:
        """Columns (doc, type, surface, char_start, char_end_inclusive), one
        entry per match, ordered by (doc, gazetteer index, token start);
        ``max_tokens`` is the window of :func:`gazetteer_spans`."""
        if max_tokens is not None and max_tokens < 2:
            raise ValueError(f"max_tokens must be >= 2, got {max_tokens}")
        doc, start, end, tid = tokenize_batch(texts, None if max_tokens is None else max_tokens - 2)
        stop = np.searchsorted(doc, doc, side="right")  # end of each token's document
        hit_pos, hit_gi = [np.zeros(0, dtype=np.int64)], [np.zeros(0, dtype=np.int64)]
        for k, keys, gis in self.groups:
            pos = np.arange(len(doc) - k + 1)
            pos = pos[pos + k <= stop[pos]]
            key = _pack(tid, pos, k)
            lo = np.searchsorted(keys, key)
            found = keys[np.minimum(lo, len(keys) - 1)] == key
            pos, key, lo = pos[found], key[found], lo[found]
            n = np.searchsorted(keys, key, side="right") - lo
            hit_pos.append(np.repeat(pos, n))
            hit_gi.append(gis[np.repeat(lo - (np.cumsum(n) - n), n) + np.arange(n.sum())])
        pos, gi = np.concatenate(hit_pos), np.concatenate(hit_gi)
        last = pos + self.n_tokens[gi] - 1
        fits = last < stop[pos]  # a name longer than its key must end in its document
        pos, gi, last = pos[fits], gi[fits], last[fits]
        order = np.lexsort((pos, gi, doc[pos]))
        pos, gi, last = pos[order], gi[order], last[order]

        # a surface covers whole tokens, so its token strings follow from it:
        # check each distinct (surface, name) pair once
        d_of, s_of, e_of = doc[pos].tolist(), start[pos].tolist(), end[last].tolist()
        surfaces = [texts[d][s:e] for d, s, e in zip(d_of, s_of, e_of)]
        spelled, keep = {}, []
        for h, key in enumerate(zip(surfaces, gi.tolist())):
            if key not in spelled:
                p, q = pos[h], last[h] + 1
                toks = [_token_text(texts[doc[p]], s, e) for s, e in zip(start[p:q], end[p:q])]
                spelled[key] = toks == self.tokens[key[1]]
            keep.append(spelled[key])
        pos, gi, last = pos[keep], gi[keep], last[keep]
        surfaces = [s for s, ok in zip(surfaces, keep) if ok]
        return doc[pos], self.types[gi], surfaces, start[pos], end[last] - 1


def gazetteer_spans(
    text: str,
    gazetteer: list[tuple[str, str, str]],
    max_tokens: int | None = None,
) -> list[tuple[str, str, int, int]]:
    """All token-aligned occurrences of gazetteer names in ``text``.

    Returns (type, surface, char_start, char_end_inclusive) per occurrence —
    the reference's inclusive-end char convention (``engines/data.py:104``).
    ``max_tokens`` reproduces the model path's truncation window: matches
    not inside the first ``max_tokens − 2`` tokens are invisible, like spans
    past ``max_sequence_length`` (``engines/data.py:24-29``); a window
    under 2 tokens raises ``ValueError``.

    Spec implementation, kept as the test oracle for :class:`GazetteerMatcher`.
    """
    if max_tokens is not None and max_tokens < 2:
        raise ValueError(f"max_tokens must be >= 2, got {max_tokens}")
    toks = basic_tokenize(text)
    if max_tokens is not None:
        toks = toks[: max_tokens - 2]
    n = len(toks)
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
