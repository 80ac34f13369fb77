"""Property-based tests (hypothesis) for the tokenizer/decode invariants the
whole span pipeline rests on."""

import hypothesis.strategies as st
from hypothesis import given, settings

from entity_extractor_by_pointer_spark.functions.decode import build_offset_maps
from entity_extractor_by_pointer_spark.functions.gazetteer import gazetteer_spans
from entity_extractor_by_pointer_spark.functions.tokenizer import (
    CjkCharTokenizer,
    basic_tokenize,
)

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


@given(TEXT_NUL, st.sampled_from([None, 6, 32]))
@settings(max_examples=300, deadline=None)
def test_aho_corasick_equals_reference_scan(text, max_tokens):
    from entity_extractor_by_pointer_spark.functions.gazetteer import TokenAhoCorasick

    ac = TokenAhoCorasick(_GAZ_FAST)
    assert ac.spans(text, max_tokens) == gazetteer_spans(text, _GAZ_FAST, max_tokens)


def test_aho_corasick_large_dictionary_and_dispatch():
    """A 500-name dictionary (shared prefixes/suffixes, nested names, CJK +
    ASCII, multi-token) matches the reference scan exactly."""
    import random

    from entity_extractor_by_pointer_spark.functions.gazetteer import TokenAhoCorasick

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
    ac = TokenAhoCorasick(gaz)
    for text in texts:
        assert ac.spans(text, 64) == gazetteer_spans(text, gaz, 64)
        assert ac.spans(text) == gazetteer_spans(text, gaz)
