"""Deterministic BERT-style tokenizer stand-in.

The reference uses ``BertTokenizerFast.from_pretrained('bert-base-chinese')``
(reference ``engines/data.py:17``). That model's vocab/weights are not
available in this sandbox, so we implement a deterministic tokenizer with the
same *structural* contract the reference's decode path depends on:

- ``[CLS]`` prefix / ``[SEP]`` suffix with offset mapping ``(0, 0)``
  (filtered in decode, reference ``engines/data.py:58-59,91-92``);
- one token per CJK codepoint (BERT's basic tokenizer isolates CJK chars);
- ASCII alphanumeric runs become one (lowercased) token; whitespace emits no
  token; any other codepoint is a single-char token;
- offset mapping entries are ``(char_start, char_end_exclusive)`` exactly like
  HuggingFace fast tokenizers — the reference converts to end-INCLUSIVE char
  offsets with ``j[-1] - 1`` (``engines/data.py:59,92``), which is the #1
  off-by-one hazard called out in SURVEY.md §1.2;
- ``truncation=True, max_length=L`` keeps ``[CLS]`` + (L-2) tokens + ``[SEP]``
  (HF behavior, used by the offset-mapping calls at ``data.py:55-57,88-90``);
- the reference's *train/predict id path* instead right-pads or hard-truncates
  the untruncated id list to L **without preserving [SEP]**
  (``engines/data.py:24-29,41-44``) — ``pad_or_truncate`` replicates that.

The model tokenizes with ``encode_batch_for_inference``: one numpy pass per
Arrow batch that classifies the joined texts' codepoints, finds the token
starts, drops every token past the window and gathers ids from a dense
per-codepoint table. Three per-document functions are its spec, pinned
against it by ``tests/test_tokenizer.py``: ``basic_tokenize_slow`` (the
per-char loop), ``basic_tokenize`` (the same split as a compiled regex, which
the gazetteer also uses) and ``encode_for_inference`` (ids, mask and offsets
of one document).

Both the Spark pipeline UDFs and the single-process parity oracle import this
module, so span parity is measured against shared tokenization — the contract
BASELINE.md sets (parity vs the reference *algorithms*, not vs a particular
checkpoint).
"""

from __future__ import annotations

import zlib
from dataclasses import dataclass

import numpy as np

PAD_ID = 0
CLS_ID = 101
SEP_ID = 102
VOCAB_SIZE = 21128  # bert-base-chinese vocab size, for id-space parity
_FIRST_REGULAR_ID = 104


def _is_cjk(cp: int) -> bool:
    """CJK ranges per BERT's BasicTokenizer._is_chinese_char."""
    return (
        0x4E00 <= cp <= 0x9FFF
        or 0x3400 <= cp <= 0x4DBF
        or 0x20000 <= cp <= 0x2A6DF
        or 0x2A700 <= cp <= 0x2B73F
        or 0x2B740 <= cp <= 0x2B81F
        or 0x2B820 <= cp <= 0x2CEAF
        or 0xF900 <= cp <= 0xFAFF
        or 0x2F800 <= cp <= 0x2FA1F
    )


_TOKEN_ID_CACHE: dict[str, int] = {}


def token_id(token: str) -> int:
    """Stable vocab id for a token string (crc32-hashed into the id space).
    Memoized — real corpora have a small distinct-token set per worker."""
    tid = _TOKEN_ID_CACHE.get(token)
    if tid is None:
        tid = _FIRST_REGULAR_ID + zlib.crc32(token.encode("utf-8")) % (
            VOCAB_SIZE - _FIRST_REGULAR_ID
        )
        if len(_TOKEN_ID_CACHE) < 1_000_000:  # bound worker memory
            _TOKEN_ID_CACHE[token] = tid
    return tid


import re

# ascii-alnum runs | whitespace runs (skipped) | any other single codepoint.
# CJK codepoints fall into the single-codepoint branch, giving one token per
# CJK char exactly like BERT's basic tokenizer; _is_cjk is kept for callers
# and for the reference (loop) implementation the equivalence test pins.
_TOKEN_RE = re.compile(r"([A-Za-z0-9]+)|(\s+)|(.)", re.DOTALL)


def basic_tokenize(text: str) -> list[tuple[str, int, int]]:
    """Split text into (token, char_start, char_end_exclusive) triples.

    Compiled-regex scanner (C speed); semantics identical to the reference
    per-char loop (``basic_tokenize_slow``), pinned by
    ``tests/test_tokenizer.py::test_fast_tokenizer_equals_reference_loop``.
    """
    out: list[tuple[str, int, int]] = []
    append = out.append
    for m in _TOKEN_RE.finditer(text):
        run = m.group(1)
        if run is not None:
            append((run.lower(), m.start(), m.end()))
        elif m.group(2) is None:  # single non-space, non-ascii-alnum char
            append((m.group(3), m.start(), m.start() + 1))
    return out


def basic_tokenize_slow(text: str) -> list[tuple[str, int, int]]:
    """Reference implementation (per-char loop) — kept as the spec for the
    equivalence test; do not use in hot paths."""
    out: list[tuple[str, int, int]] = []
    i, n = 0, len(text)
    while i < n:
        ch = text[i]
        if ch.isspace():
            i += 1
            continue
        cp = ord(ch)
        if _is_cjk(cp):
            out.append((ch, i, i + 1))
            i += 1
        elif ch.isascii() and ch.isalnum():
            j = i + 1
            while j < n and text[j].isascii() and text[j].isalnum():
                j += 1
            out.append((text[i:j].lower(), i, j))
            i = j
        else:
            out.append((ch, i, i + 1))
            i += 1
    return out


@dataclass
class Encoding:
    input_ids: list[int]
    token_type_ids: list[int]
    attention_mask: list[int]
    offset_mapping: list[tuple[int, int]]


class CjkCharTokenizer:
    """Callable with the subset of the HF fast-tokenizer API the reference
    exercises: ``tokenizer(text)``, ``tokenizer(text, return_offsets_mapping
    =True, max_length=L, truncation=True)``, ``tokenizer(text,
    padding='max_length')`` (the last needs ``max_sequence_length`` set)."""

    def __init__(self, max_sequence_length: int = 200):
        self.max_sequence_length = max_sequence_length

    def __call__(
        self,
        text: str,
        max_length: int | None = None,
        truncation: bool = False,
        padding: str | None = None,
    ) -> Encoding:
        toks = basic_tokenize(text)
        if truncation and max_length is not None and len(toks) > max_length - 2:
            toks = toks[: max_length - 2]
        ids = [CLS_ID] + [token_id(t) for t, _, _ in toks] + [SEP_ID]
        offsets = [(0, 0)] + [(s, e) for _, s, e in toks] + [(0, 0)]
        mask = [1] * len(ids)
        types = [0] * len(ids)
        if padding == "max_length":
            L = max_length or self.max_sequence_length
            pad = L - len(ids)
            if pad > 0:
                ids += [PAD_ID] * pad
                mask += [0] * pad
                types += [0] * pad
                offsets += [(0, 0)] * pad
            else:
                ids, mask, types, offsets = ids[:L], mask[:L], types[:L], offsets[:L]
        return Encoding(ids, types, mask, offsets)


def encode_for_inference(
    text: str, max_sequence_length: int
) -> tuple[list[int], list[int], list[tuple[int, int]]]:
    """One-pass equivalent of the reference's two tokenizer calls on the
    inference path: padded/hard-truncated ids + attention mask
    (``data.py:41-44,24-29``) AND the truncation=True offset mapping used by
    decode (``data.py:88-90``) from a single ``basic_tokenize`` — the
    outputs are exactly what calling the tokenizer twice would produce.
    The spec of ``encode_batch_for_inference``, which the model calls."""
    toks = basic_tokenize(text)
    L = max_sequence_length
    n = len(toks)
    ids = [CLS_ID] + [token_id(t) for t, _, _ in toks] + [SEP_ID]
    mask = [1] * len(ids)
    ids = pad_or_truncate(ids, L)
    mask = pad_or_truncate(mask, L)
    body = toks[: L - 2] if n > L - 2 else toks
    offsets = [(0, 0)] + [(s, e) for _, s, e in body] + [(0, 0)]
    return ids, mask, offsets


# Codepoint class tables for the batch pass. U+3000 is the highest codepoint
# ``str.isspace()`` (and the regex's ``\s``) accepts; every larger codepoint
# is clamped onto the final False entry, and likewise above ASCII.
_SPACE_MAX = 0x3000
_IS_SPACE = np.array([chr(c).isspace() for c in range(_SPACE_MAX + 1)] + [False])
_IS_ALNUM = np.array([chr(c).isalnum() for c in range(128)] + [False])
# token_id(chr(c)) for every BMP codepoint seen so far in this process
# (0 = not yet computed; token ids start at _FIRST_REGULAR_ID)
_BMP_IDS = np.zeros(0x10000, dtype=np.int32)


def _char_ids(cps: np.ndarray) -> np.ndarray:
    """token_id(chr(c)) for each codepoint, through the dense BMP table."""
    out = np.empty(len(cps), dtype=np.int32)
    bmp = cps < 0x10000
    c = cps[bmp]
    got = _BMP_IDS[c]
    if not got.all():
        for u in np.unique(c[got == 0]).tolist():
            _BMP_IDS[u] = token_id(chr(u))
        got = _BMP_IDS[c]
    out[bmp] = got
    out[~bmp] = [token_id(chr(u)) for u in cps[~bmp].tolist()]
    return out


def encode_batch_for_inference(
    texts: list[str], max_sequence_length: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """``encode_for_inference`` for a whole batch in one vectorized pass.

    Returns ids and attention mask as (B, L) int32 and the offset mapping as
    (B, L, 2) int32. Row i equals ``encode_for_inference(texts[i], L)``: the
    ids and mask exactly, and the offsets as ``[(0, 0)] + body + [(0, 0)]``
    followed by (0, 0) padding. Like the per-document path, a lone surrogate
    anywhere in the batch raises ``UnicodeEncodeError``.

    The joined texts are classified per codepoint (whitespace, ASCII alnum);
    a token starts at every non-space codepoint that does not continue an
    ASCII-alnum run of the same document. Tokens at rank ≥ L−1 are dropped
    before any id is looked up, so long pages cost one classification pass.
    """
    L = max_sequence_length
    if L < 2:
        raise ValueError(f"max_sequence_length must be >= 2, got {L}")
    B = len(texts)
    joined = "".join(texts)
    cp = np.frombuffer(joined.encode("utf-32-le"), dtype=np.uint32)
    lengths = np.fromiter(map(len, texts), dtype=np.int64, count=B)
    doc_end = np.cumsum(lengths)
    doc_start = doc_end - lengths

    space = _IS_SPACE[np.minimum(cp, _SPACE_MAX + 1)]
    alnum = _IS_ALNUM[np.minimum(cp, 128)]
    cont = np.zeros(len(cp), dtype=bool)  # continues the previous alnum run
    cont[1:] = alnum[1:] & alnum[:-1]
    cont[doc_start[doc_start < doc_end]] = False  # runs restart per document
    tok = np.flatnonzero(~space & ~cont)
    end = tok + 1
    is_run = alnum[tok]
    run_last = alnum.copy()
    run_last[:-1] &= ~cont[1:]
    end[is_run] = np.flatnonzero(run_last) + 1

    doc = np.searchsorted(doc_end, tok, side="right")
    n = np.bincount(doc, minlength=B)
    rank = np.arange(len(tok)) - (np.cumsum(n) - n)[doc]
    keep = rank < L - 1
    tok, end, is_run, doc, rank = tok[keep], end[keep], is_run[keep], doc[keep], rank[keep]

    tid = np.empty(len(tok), dtype=np.int32)
    tid[~is_run] = _char_ids(cp[tok[~is_run]])
    tid[is_run] = [
        token_id(joined[s:e].lower()) for s, e in zip(tok[is_run].tolist(), end[is_run].tolist())
    ]

    ids = np.zeros((B, L), dtype=np.int32)
    ids[:, 0] = CLS_ID
    ids[doc, rank + 1] = tid
    sep = n + 2 <= L
    ids[sep, n[sep] + 1] = SEP_ID
    mask = (np.arange(L) < np.minimum(n + 2, L)[:, None]).astype(np.int32)
    offsets = np.zeros((B, L, 2), dtype=np.int32)
    body = rank < L - 2
    doc, row = doc[body], rank[body] + 1
    offsets[doc, row, 0] = tok[body] - doc_start[doc]
    offsets[doc, row, 1] = end[body] - doc_start[doc]
    return ids, mask, offsets


def pad_or_truncate(token: list[int], max_sequence_length: int) -> list[int]:
    """Right-pad with 0, or hard-truncate, to exactly ``max_sequence_length``.

    Mirrors reference ``DataManager.padding`` (``engines/data.py:24-29``):
    truncation does NOT re-append [SEP].
    """
    if len(token) < max_sequence_length:
        return token + [0] * (max_sequence_length - len(token))
    return token[:max_sequence_length]
