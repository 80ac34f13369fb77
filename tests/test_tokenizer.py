import hypothesis.strategies as st
import pytest
from hypothesis import given, settings

from entity_extractor_by_pointer_spark.functions.tokenizer import (
    CLS_ID,
    SEP_ID,
    CjkCharTokenizer,
    basic_tokenize,
    encode_batch_for_inference,
    encode_for_inference,
    pad_or_truncate,
    token_id,
    tokenize_batch,
)


def test_cjk_chars_are_single_tokens():
    toks = basic_tokenize("广州举行")
    assert [t[0] for t in toks] == ["广", "州", "举", "行"]
    assert [(t[1], t[2]) for t in toks] == [(0, 1), (1, 2), (2, 3), (3, 4)]


def test_ascii_runs_and_punct():
    toks = basic_tokenize("In 1992, GDP grew.")
    assert [t[0] for t in toks] == ["in", "1992", ",", "gdp", "grew", "."]
    # offsets are (start, end_exclusive) on the ORIGINAL text
    assert toks[1][1:] == (3, 7)
    assert toks[2][1:] == (7, 8)


def test_whitespace_emits_no_token():
    assert basic_tokenize("  \t\n ") == []


def test_special_token_offsets_are_zero_zero():
    enc = CjkCharTokenizer()("广州")
    assert enc.input_ids[0] == CLS_ID and enc.input_ids[-1] == SEP_ID
    assert enc.offset_mapping[0] == (0, 0) and enc.offset_mapping[-1] == (0, 0)
    assert enc.offset_mapping[1] == (0, 1)


def test_truncation_keeps_cls_and_sep():
    # HF behavior reproduced: [CLS] + (L-2) tokens + [SEP]
    text = "字" * 300
    enc = CjkCharTokenizer()(text, max_length=200, truncation=True)
    assert len(enc.input_ids) == 200
    assert enc.input_ids[0] == CLS_ID and enc.input_ids[-1] == SEP_ID
    assert enc.offset_mapping[198] == (197, 198)


def test_pad_or_truncate_reference_semantics():
    # reference data.py:24-29 pads with 0 / hard-truncates WITHOUT re-adding SEP
    assert pad_or_truncate([1, 2, 3], 5) == [1, 2, 3, 0, 0]
    long = list(range(300))
    assert pad_or_truncate(long, 200) == long[:200]  # no SEP at 199


def test_fast_tokenizer_equals_reference_loop():
    alphabet = st.sampled_from(
        list("中国广州 abzAZ019,.!?、。\t\n\r\xa0　\x1c​é½１﹏")
    )

    @given(st.lists(st.text(alphabet=alphabet, max_size=200), max_size=6), st.sampled_from([None, 0, 1, 5]))
    @settings(max_examples=500, deadline=None)
    def check(texts, limit):
        doc, start, end, ids = tokenize_batch(texts, limit)
        got = list(zip(doc.tolist(), start.tolist(), end.tolist(), ids.tolist()))
        spec = [
            (d, s, e, token_id(tok))
            for d, text in enumerate(texts)
            for tok, s, e in basic_tokenize(text)[:limit]
        ]
        assert got == spec

    check()


def test_token_ids_deterministic_and_in_vocab_range():
    a, b = token_id("广"), token_id("广")
    assert a == b and 104 <= a < 21128
    assert token_id("gdp") != token_id("gpd")


# every str.isspace() codepoint (U+0085, U+00A0, U+1680, U+2000-U+200A,
# U+2028/9, U+202F, U+205F, U+3000, \x1c-\x1f, ...), ASCII alnum in both
# cases, punctuation, BMP and astral CJK, NUL and combining marks; the lone
# surrogate has its own case below
_SPACES = [chr(c) for c in range(0x3001) if chr(c).isspace()]
_BATCH_ALPHABET = _SPACES + list("abzAZ019,.!?、。中国广州\x00é１") + [
    "\U00020001",
    "\u0301",
    "\u20dd",
]
_BATCH_TEXT = st.text(alphabet=st.sampled_from(_BATCH_ALPHABET), max_size=40)


def _assert_batch_equals_spec(texts, max_len):
    try:
        spec = [encode_for_inference(t, max_len) for t in texts]
    except UnicodeEncodeError:  # a lone surrogate has no utf-8 token id
        with pytest.raises(UnicodeEncodeError):
            encode_batch_for_inference(texts, max_len)
        return
    ids, mask, offsets = encode_batch_for_inference(texts, max_len)
    assert ids.shape == mask.shape == (len(texts), max_len)
    assert offsets.shape == (len(texts), max_len, 2)
    for i, (s_ids, s_mask, s_offs) in enumerate(spec):
        assert ids[i].tolist() == s_ids
        assert mask[i].tolist() == s_mask
        row = [tuple(o) for o in offsets[i].tolist()]
        assert row[: len(s_offs)] == s_offs
        assert set(row[len(s_offs) :]) <= {(0, 0)}


@given(st.lists(_BATCH_TEXT, max_size=8), st.sampled_from([2, 3, 5, 200]))
@settings(max_examples=400, deadline=None)
def test_batch_encoding_equals_per_document_spec(texts, max_len):
    _assert_batch_equals_spec(texts, max_len)


@pytest.mark.parametrize("max_len", [2, 3, 5, 200])
def test_batch_encoding_document_boundaries(max_len):
    # empty documents at the start, middle and end; ASCII runs of adjacent
    # documents must not merge across the boundary
    texts = ["", "abc", "def", "", "中 x1 Y", "x" * 300 + " 广", ""]
    _assert_batch_equals_spec(texts, max_len)
    _assert_batch_equals_spec([], max_len)
    ids = encode_batch_for_inference(["abc", "def"], max_len)[0]
    if max_len >= 3:
        assert ids[0, 1] == token_id("abc") and ids[1, 1] == token_id("def")


@pytest.mark.parametrize("texts", [["ab", "x\ud800y"], ["a" * 300 + " \ud800"], ["\ud800"]])
def test_batch_encoding_raises_on_lone_surrogate_like_spec(texts):
    # the spec raises wherever the surrogate sits, inside the window or not
    _assert_batch_equals_spec(texts, 5)
    with pytest.raises(UnicodeEncodeError):
        encode_batch_for_inference(texts, 5)
