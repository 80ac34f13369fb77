"""Property-based tests (hypothesis) for the tokenizer/decode invariants the
whole span pipeline rests on."""

import hypothesis.strategies as st
import pytest
from hypothesis import given, settings

from entity_extractor_by_pointer_spark.functions.decode import build_offset_maps
from entity_extractor_by_pointer_spark.functions.gazetteer import GazetteerMatcher, gazetteer_spans
from entity_extractor_by_pointer_spark.functions.tokenizer import (
    CjkCharTokenizer,
    basic_tokenize,
    token_id,
)

from .test_tokenizer import _BATCH_ALPHABET

# mixed CJK / ascii / punctuation / whitespace alphabet
TEXT = st.text(
    alphabet=st.sampled_from(list("中国广州华为工程师 abcXYZ019,.!?、。\t\n")), max_size=300
)


@given(TEXT)
@settings(max_examples=300, deadline=None)
def test_offsets_slice_back_to_token_surfaces(text):
    for tok, s, e in basic_tokenize(text):
        # ascii tokens are lowercased; surface must match modulo case
        assert text[s:e].lower() == tok.lower()
        assert s < e


@given(TEXT)
@settings(max_examples=300, deadline=None)
def test_tokens_are_ordered_and_non_overlapping(text):
    prev_end = -1
    for _tok, s, e in basic_tokenize(text):
        assert s >= prev_end
        prev_end = e


@given(TEXT, st.integers(min_value=4, max_value=64))
@settings(max_examples=200, deadline=None)
def test_truncated_encoding_invariants(text, max_len):
    enc = CjkCharTokenizer()(text, max_length=max_len, truncation=True)
    assert len(enc.input_ids) <= max_len
    assert len(enc.input_ids) == len(enc.offset_mapping) == len(enc.attention_mask)
    assert enc.offset_mapping[0] == (0, 0) and enc.offset_mapping[-1] == (0, 0)
    start_mapping, end_mapping = build_offset_maps(enc.offset_mapping)
    # end-inclusive char slice of any token must be a non-empty substring
    for tok_i in start_mapping:
        s, e = start_mapping[tok_i], end_mapping[tok_i]
        assert 0 <= s <= e < len(text)


@given(TEXT)
@settings(max_examples=200, deadline=None)
def test_gazetteer_spans_are_token_aligned_substrings(text):
    gaz = [("中国", "location", "LOC_CN"), ("abc", "organization", "ORG_ABC")]
    for etype, surface, s, e in gazetteer_spans(text, gaz):
        assert text[s : e + 1].lower() == surface.lower()
        assert etype in ("location", "organization")


# needles that actually occur in the alphabet above + multi-token shapes +
# a NUL-containing name
_GAZ_FAST = [
    ("中国", "location", "LOC_CN"),
    ("广州", "location", "LOC_GZ"),
    ("华为", "organization", "ORG_HW"),
    ("abc", "person", "PER_ABC"),
    ("abc 019", "person", "PER_ABC019"),
    ("中", "location", "LOC_SINGLE"),
    ("x\x00y", "person", "PER_NUL"),
]

TEXT_NUL = st.text(
    alphabet=st.sampled_from(list("中国广州华为 abcXYZ019,.!?。\x00")), max_size=300
)


def _matcher_spans(gaz, texts, max_tokens=None):
    """GazetteerMatcher's columns as rows (doc, type, surface, start, end)."""
    doc, etype, surface, start, end = GazetteerMatcher(gaz)(texts, max_tokens)
    return list(zip(doc.tolist(), etype.tolist(), surface, start.tolist(), end.tolist()))


def _spec_spans(gaz, texts, max_tokens=None):
    return [(d, *span) for d, text in enumerate(texts) for span in gazetteer_spans(text, gaz, max_tokens)]


@given(TEXT_NUL, st.sampled_from([None, 6, 32]))
@settings(max_examples=300, deadline=None)
def test_batch_matcher_equals_reference_scan(text, max_tokens):
    assert _matcher_spans(_GAZ_FAST, [text], max_tokens) == _spec_spans(_GAZ_FAST, [text], max_tokens)


def test_batch_matcher_large_dictionary():
    """A 500-name dictionary (shared prefixes/suffixes, nested names, CJK +
    ASCII, multi-token) matches the reference scan exactly."""
    import random

    rng = random.Random(42)
    vocab = ["alpha", "beta", "gamma", "中", "国", "北", "京", "x1", "y2"]
    gaz = []
    seen = set()
    while len(gaz) < 500:
        name = " ".join(rng.choices(vocab, k=rng.randint(1, 4)))
        if name not in seen:
            seen.add(name)
            gaz.append((name, rng.choice(["person", "location"]), f"E{len(gaz)}"))
    texts = [
        " ".join(rng.choices(vocab, k=rng.randint(0, 60))) for _ in range(50)
    ] + ["中国北京 alpha beta gamma x1", ""]
    assert _matcher_spans(gaz, texts, 64) == _spec_spans(gaz, texts, 64)
    assert _matcher_spans(gaz, texts) == _spec_spans(gaz, texts)


# overlapping and nested names, one name under two types, names of 5 and 6
# tokens (past the 4-token probe key), a name with no token, NUL
_GAZ_BATCH = [
    ("中国", "location", "LOC_CN"),
    ("中国 中国", "location", "LOC_CN2"),
    ("国 中", "location", "LOC_OVERLAP"),
    ("中", "person", "PER_ZHONG"),
    ("中", "location", "LOC_ZHONG"),
    ("ab", "organization", "ORG_AB"),
    ("AB 01", "organization", "ORG_AB01"),
    ("ab 01 ab 01 ab", "person", "PER_LONG5"),
    ("中 国 ab 1 é 中", "person", "PER_LONG6"),
    ("x\x00y", "person", "PER_NUL"),
    ("é", "location", "LOC_E"),
    (" \t ", "location", "LOC_NO_TOKEN"),
]
_BATCH_WORDS = _BATCH_ALPHABET + ["ab", "AB", "01", "中国", " ab 01 ", "x\x00y"]


@given(
    st.lists(st.lists(st.sampled_from(_BATCH_WORDS), max_size=30).map("".join), max_size=6),
    st.sampled_from([None, 2, 3, 200]),
)
@settings(max_examples=400, deadline=None)
def test_batch_matcher_equals_spec_on_batches(texts, max_tokens):
    assert _matcher_spans(_GAZ_BATCH, texts, max_tokens) == _spec_spans(_GAZ_BATCH, texts, max_tokens)


def test_batch_matcher_empty_batch_and_empty_texts():
    assert _matcher_spans(_GAZ_BATCH, []) == []
    assert _matcher_spans(_GAZ_BATCH, ["", "", "中国"], 3) == [(2, "person", "中", 0, 0), (2, "location", "中", 0, 0)]
    assert _matcher_spans([], ["中国"]) == []


def test_batch_matcher_rejects_a_token_id_collision():
    """Token ids are crc32 hashes: a text token with a name token's id but
    another string must not match."""
    import itertools
    import string

    target = token_id("spark")
    twin = next(
        w
        for n in range(1, 6)
        for w in map("".join, itertools.product(string.ascii_lowercase, repeat=n))
        if w != "spark" and token_id(w) == target
    )
    gaz = [("spark", "organization", "ORG_SPARK")]
    texts = [f"{twin} and spark", twin]
    assert _matcher_spans(gaz, texts) == [(0, "organization", "spark", len(twin) + 5, len(twin) + 9)]
    assert _matcher_spans(gaz, texts) == _spec_spans(gaz, texts)


@pytest.mark.parametrize("max_tokens", [-1, 0, 1])
def test_window_under_two_tokens_is_rejected(max_tokens):
    # [CLS] and [SEP] leave no room for a token; slicing the token list with
    # a negative bound would silently drop only the last one or two tokens
    gaz = [("中国", "location", "LOC_CN")]
    with pytest.raises(ValueError):
        gazetteer_spans("中国 中国 中国", gaz, max_tokens)
    with pytest.raises(ValueError):
        GazetteerMatcher(gaz)(["中国 中国 中国"], max_tokens)
