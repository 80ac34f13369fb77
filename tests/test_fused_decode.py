"""The fused GP score+decode in ``PointerNerModel.predict_batch`` must emit
exactly the spans of the spec path — the full per-doc ``raw_scores`` tensor
plus the logit bias, decoded by ``decode_gp`` — span for span (class, entity,
offsets, score) and in the same order. Self-contained: synthetic pages and
hand-picked degenerate texts, no reference data."""

import numpy as np
import pytest

from entity_extractor_by_pointer_spark.functions.decode import decode_gp
from entity_extractor_by_pointer_spark.functions.model import NerConfig, PointerNerModel
from entity_extractor_by_pointer_spark.sources.pages import _synth_text

from .test_parity import CLASSES1, CLASSES2, CLASSES3

TEXTS = (
    [_synth_text(i, min_sents=10, extra_sents=5) for i in range(3)]
    + [_synth_text(i) for i in range(100, 104)]
    + ["", "  \t\n ", "广", "跑" * 250 + "广州", "广州\x00举行 abc"]
)


def _spec_spans(model, texts):
    bias = np.float32(model.config.logit_bias)
    ids, mask, offs = model._encode_batch(texts)
    hidden = model.encoder(ids, mask)
    out = []
    for i, text in enumerate(texts):
        li = int(mask[i].sum())
        logits = model.head.raw_scores(hidden[i : i + 1, :li])[0] + bias
        out.append([tuple(s) for s in decode_gp(text, logits, offs[i])])
    return out


@pytest.mark.parametrize("bias", [-8.0, -4.0, 0.0])
@pytest.mark.parametrize("classes", [CLASSES2, CLASSES1, CLASSES3], ids=["news", "resume", "clinical"])
def test_fused_decode_equals_spec_path(classes, bias):
    model = PointerNerModel(NerConfig(classes=classes, model_type="gp", logit_bias=bias))
    fused = [[tuple(s) for s in doc] for doc in model.predict_batch(TEXTS)]
    assert fused == _spec_spans(model, TEXTS)
    if bias == 0.0:
        assert all(fused[i] for i in range(7))  # the dense bias fires on every page


def test_fused_decode_keeps_rows_holding_nan_and_inf(monkeypatch):
    """A start row whose q·k holds NaN, +inf and -inf next to an ordinary
    firing cell: the row bound must ignore the NaN (a NaN bound would drop
    the whole row) and the decoded spans must match the spec path."""
    model = PointerNerModel(NerConfig(classes=CLASSES2, model_type="gp", logit_bias=-8.0))
    text = _synth_text(7, min_sents=10, extra_sents=5)
    qk_and_bias = model.head.qk_and_bias
    row = 5

    def patched(hidden):
        qk, dense = qk_and_bias(hidden)
        qk = qk.copy()
        qk[0, row, row + 1] = np.nan
        qk[0, row, row + 2] = np.inf
        qk[0, row, row + 3] = -np.inf
        qk[0, row, row + 6] = 50.0
        return qk, dense

    monkeypatch.setattr(model.head, "qk_and_bias", patched)
    with np.errstate(invalid="ignore"):
        spec = _spec_spans(model, [text])
        fused = [[tuple(s) for s in doc] for doc in model.predict_batch([text])]
    assert fused == spec
    # every class fires at the +inf cell and at the planted 50.0 cell
    offs = model._encode_batch([text])[2]
    starts = {(s[0], s[4]) for s in spec[0] if s[2] == offs[0][row][0]}
    assert {(c, np.inf) for c in range(3)} <= starts
    assert sum(1 for c, score in starts if np.isfinite(score)) >= 3


@pytest.mark.parametrize("bias", [-4.0, 0.0])
@pytest.mark.parametrize("model_type", ["gp", "bp"])
def test_spans_do_not_depend_on_batch_composition(model_type, bias):
    """Each document's spans are the same scored alone or inside a
    256-document batch of mixed lengths: the Spark UDF sees whatever Arrow
    batches the scan yields, and its parity with the single-process model
    rests on this."""
    model = PointerNerModel(NerConfig(classes=CLASSES2, model_type=model_type, logit_bias=bias))
    texts = [
        _synth_text(i, min_sents=1 + i % 12, extra_sents=1 + i % 5) for i in range(256 - len(TEXTS))
    ] + list(TEXTS)
    batch = model.predict_batch(texts)
    assert len(batch) == 256
    if bias == 0.0:
        assert any(batch)  # BP fires nothing at -4.0 on these pages
    for text, spans in zip(texts, batch):
        assert model.predict_batch([text])[0] == spans
