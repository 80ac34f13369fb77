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

Production code tokenizes with ``tokenize_batch``: one numpy pass per Arrow
batch that classifies the joined texts' codepoints, finds the token starts,
drops every token past each document's window and gathers ids from a dense
per-codepoint table. The model reads it through ``encode_batch_for_inference``
((B, L) ids, mask and offsets); the gazetteer matcher and the gold-span
alignment filter read its flat per-token arrays. Two per-document functions
are its spec, pinned against it by ``tests/test_tokenizer.py``:
``basic_tokenize`` (the per-char loop) and ``encode_for_inference`` (ids,
mask and offsets of one document).

Both the Spark pipeline UDFs and the single-process parity oracle import this
module, so span parity is measured against shared tokenization — the contract
BASELINE.md sets (parity vs the reference *algorithms*, not vs a particular
checkpoint).
"""

from __future__ import annotations

import zlib
from dataclasses import dataclass

import numpy as np

CLS_ID = 101
SEP_ID = 102
VOCAB_SIZE = 21128  # bert-base-chinese vocab size, for id-space parity
_FIRST_REGULAR_ID = 104

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


def basic_tokenize(text: str) -> list[tuple[str, int, int]]:
    """Split text into (token, char_start, char_end_exclusive) triples.

    Whitespace emits no token, an ASCII alphanumeric run is one lowercased
    token, and every other codepoint (each CJK char included, as in BERT's
    basic tokenizer) is a token of its own. The per-document spec of
    ``tokenize_batch``; do not use in hot paths.
    """
    out: list[tuple[str, int, int]] = []
    i, n = 0, len(text)
    while i < n:
        ch = text[i]
        if ch.isspace():
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
    """Callable with the subset of the HF fast-tokenizer API the reference's
    span path exercises: ``tokenizer(text)`` and ``tokenizer(text,
    max_length=L, truncation=True)``; the offset mapping is always set."""

    def __call__(
        self,
        text: str,
        max_length: int | None = None,
        truncation: bool = False,
    ) -> Encoding:
        toks = basic_tokenize(text)
        if truncation and max_length is not None and len(toks) > max_length - 2:
            toks = toks[: max_length - 2]
        ids = [CLS_ID] + [token_id(t) for t, _, _ in toks] + [SEP_ID]
        offsets = [(0, 0)] + [(s, e) for _, s, e in toks] + [(0, 0)]
        mask = [1] * len(ids)
        return Encoding(ids, [0] * len(ids), mask, offsets)


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
    ids = [CLS_ID] + [token_id(t) for t, _, _ in toks] + [SEP_ID]
    mask = [1] * len(ids)
    ids = pad_or_truncate(ids, L)
    mask = pad_or_truncate(mask, L)
    offsets = [(0, 0)] + [(s, e) for _, s, e in toks[: L - 2]] + [(0, 0)]
    return ids, mask, offsets


# Codepoint class tables for the batch pass. U+3000 is the highest codepoint
# ``str.isspace()`` accepts; every larger codepoint is clamped onto the final
# False entry, and likewise above ASCII.
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


def tokenize_batch(
    texts: list[str], limit: int | None = None
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """``basic_tokenize`` and ``token_id`` for a whole batch in one pass.

    Returns flat arrays ``(doc, start, end, id)`` with one entry per token,
    in (document, position) order: the index into ``texts``, the char start
    and exclusive char end within that document, and the token id. Each
    document keeps its first ``limit`` tokens (``None``: all of them). A
    lone surrogate anywhere in the batch raises ``UnicodeEncodeError``.

    The joined texts are classified per codepoint (whitespace, ASCII alnum);
    a token starts at every non-space codepoint that does not continue an
    ASCII-alnum run of the same document. Tokens past the limit are dropped
    before any id is looked up, so long pages cost one classification pass.
    """
    if limit is not None and limit < 0:
        raise ValueError(f"limit must be >= 0, got {limit}")
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
    if limit is not None:
        n = np.bincount(doc, minlength=B)
        keep = np.arange(len(tok)) - (np.cumsum(n) - n)[doc] < limit
        tok, end, is_run, doc = tok[keep], end[keep], is_run[keep], doc[keep]

    tid = np.empty(len(tok), dtype=np.int32)
    tid[~is_run] = _char_ids(cp[tok[~is_run]])
    tid[is_run] = [
        token_id(joined[s:e].lower()) for s, e in zip(tok[is_run].tolist(), end[is_run].tolist())
    ]
    return doc, tok - doc_start[doc], end - doc_start[doc], tid


def encode_batch_for_inference(
    texts: list[str], max_sequence_length: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """``encode_for_inference`` for a whole batch, scattered from one
    ``tokenize_batch`` pass.

    Returns ids and attention mask as (B, L) int32 and the offset mapping as
    (B, L, 2) int32. Row i equals ``encode_for_inference(texts[i], L)``: the
    ids and mask exactly, and the offsets as ``[(0, 0)] + body + [(0, 0)]``
    followed by (0, 0) padding. Like the per-document path, a lone surrogate
    anywhere in the batch raises ``UnicodeEncodeError``. Only the first L−1
    tokens of a document are needed: they fill the id row past ``[CLS]``,
    and whether there are more decides where ``[SEP]`` goes.
    """
    L = max_sequence_length
    if L < 2:
        raise ValueError(f"max_sequence_length must be >= 2, got {L}")
    B = len(texts)
    doc, start, end, tid = tokenize_batch(texts, L - 1)
    n = np.bincount(doc, minlength=B)
    rank = np.arange(len(doc)) - (np.cumsum(n) - n)[doc]

    ids = np.zeros((B, L), dtype=np.int32)
    ids[:, 0] = CLS_ID
    ids[doc, rank + 1] = tid
    sep = n + 2 <= L
    ids[sep, n[sep] + 1] = SEP_ID
    mask = (np.arange(L) < np.minimum(n + 2, L)[:, None]).astype(np.int32)
    offsets = np.zeros((B, L, 2), dtype=np.int32)
    body = rank < L - 2
    doc, row = doc[body], rank[body] + 1
    offsets[doc, row, 0] = start[body]
    offsets[doc, row, 1] = end[body]
    return ids, mask, offsets


def pad_or_truncate(token: list[int], max_sequence_length: int) -> list[int]:
    """Right-pad with 0, or hard-truncate, to exactly ``max_sequence_length``.

    Mirrors reference ``DataManager.padding`` (``engines/data.py:24-29``):
    truncation does NOT re-append [SEP].
    """
    if len(token) < max_sequence_length:
        return token + [0] * (max_sequence_length - len(token))
    return token[:max_sequence_length]
