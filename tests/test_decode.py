import numpy as np

from entity_extractor_by_pointer_spark.functions.decode import (
    decode_bp,
    decode_gp,
    spans_to_sets,
)
from entity_extractor_by_pointer_spark.functions.tokenizer import CjkCharTokenizer

TOK = CjkCharTokenizer()


def _offsets(text, L=200):
    return TOK(text, max_length=L, truncation=True).offset_mapping


def test_gp_decode_threshold_and_inclusive_slice():
    text = "广州举行"
    offs = _offsets(text)  # [CLS,广,州,举,行,SEP]
    logits = np.full((2, 6, 6), -5.0)
    logits[1, 1, 2] = 3.0  # tokens 1..2 = chars 0..1 = 广州
    spans = decode_gp(text, logits, offs)
    assert len(spans) == 1
    sp = spans[0]
    assert (sp.class_id, sp.entity, sp.start_idx, sp.end_idx) == (1, "广州", 0, 1)


def test_gp_decode_ignores_special_token_cells():
    text = "广州"
    offs = _offsets(text)
    logits = np.full((1, 4, 4), -5.0)
    logits[0, 0, 1] = 3.0  # start = CLS (0,0-mapped) → dropped
    logits[0, 1, 3] = 3.0  # end = SEP → dropped
    assert decode_gp(text, logits, offs) == []


def test_gp_decode_requires_start_le_end():
    text = "广州"
    offs = _offsets(text)
    logits = np.full((1, 4, 4), -5.0)
    logits[0, 2, 1] = 3.0  # start > end
    assert decode_gp(text, logits, offs) == []


def _bp_logit(p):
    return float(np.log(p / (1 - p)))


def test_bp_greedy_first_end_break():
    # reference data.py:98-106: for each start, the FIRST end with
    # start<=end and equal class wins, then break
    text = "广州市长"
    offs = _offsets(text)  # tokens: CLS 广 州 市 长 SEP
    L, C = 6, 1
    logits = np.full((L, C, 2), _bp_logit(0.01))
    logits[1, 0, 0] = _bp_logit(0.9)  # start at token1
    logits[2, 0, 1] = _bp_logit(0.9)  # end candidate token2 (first)
    logits[4, 0, 1] = _bp_logit(0.9)  # end candidate token4 (ignored)
    spans = decode_bp(text, logits, offs)
    assert [(s.entity, s.start_idx, s.end_idx) for s in spans] == [("广州", 0, 1)]


def test_bp_break_fires_even_when_mapping_check_fails():
    # quirk kept from the reference: the break executes whenever
    # start<=end and classes match, even if the offset lookup fails —
    # so a later valid end is NOT considered
    text = "广州"
    offs = _offsets(text)  # CLS 广 州 SEP → valid token idx 1,2
    L, C = 4, 1
    logits = np.full((L, C, 2), _bp_logit(0.01))
    logits[1, 0, 0] = _bp_logit(0.9)  # start at token 1
    logits[3, 0, 1] = _bp_logit(0.9)  # end at SEP → mapping fails, but breaks
    # no other class/end combination: SEP end kills the start entirely
    assert decode_bp(text, logits, offs) == []


def test_bp_class_must_match():
    text = "广州"
    offs = _offsets(text)
    L, C = 4, 2
    logits = np.full((L, C, 2), _bp_logit(0.01))
    logits[1, 0, 0] = _bp_logit(0.9)  # start class 0
    logits[2, 1, 1] = _bp_logit(0.9)  # end class 1 → never pairs
    assert decode_bp(text, logits, offs) == []


def test_set_semantics():
    text = "广州广州"
    offs = _offsets(text)
    logits = np.full((1, 6, 6), -5.0)
    logits[0, 1, 2] = 3.0  # 广州 (first)
    logits[0, 3, 4] = 3.0  # 广州 (second occurrence, same surface)
    spans = decode_gp(text, logits, offs)
    assert len(spans) == 2  # positions retained
    assert spans_to_sets(spans) == {0: {"广州"}}  # reference set semantics
