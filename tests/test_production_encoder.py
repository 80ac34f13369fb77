"""Production encoder plug point (reference engines/data.py:17,
predict.py:36-44): BertTokenizerFast + TorchBertEncoder through the SAME
``detect_mentions`` operator the deterministic suite exercises.

Skip-gated: torch/transformers are not installed in this sandbox, so these
tests skip cleanly offline — wherever the packages (and the checkpoint) exist,
the gated path runs for real and pins span-set equality between the Spark
mapInPandas plan and a single-process run of the same weights (the same
contract the seeded-encoder parity suite enforces)."""

from __future__ import annotations

import pytest

from entity_extractor_by_pointer_spark.functions import model as model_mod
from entity_extractor_by_pointer_spark.functions.model import NerConfig, PointerNerModel


def _hf_available() -> bool:
    try:
        import torch  # noqa: F401
        import transformers  # noqa: F401
    except ImportError:
        return False
    return True


def test_torch_encoder_gate_raises_cleanly_offline():
    """Where torch is absent, the factory raises NotImplementedError with a
    clear message (never ImportError from deep inside)."""
    if _hf_available():
        pytest.skip("torch installed — gate test is for the offline case")
    from entity_extractor_by_pointer_spark.functions.encoder import (
        load_torch_bert_encoder,
    )

    with pytest.raises(NotImplementedError, match="torch/transformers"):
        load_torch_bert_encoder()


@pytest.mark.skipif(not _hf_available(), reason="torch/transformers not installed")
def test_bert_encoder_spark_matches_single_process(spark):
    """Real HF tokenizer + BERT forward inside detect_mentions: the decoded
    span SET per doc must equal a single-process run of the same weights
    (scores excluded — gemm ulps vary with batch composition)."""
    from entity_extractor_by_pointer_spark.operators.mentions import detect_mentions

    texts = [
        "李明在北京的华为工作。",
        "王芳访问了上海的阿里巴巴。",
        "Acme Corp opened an office in 广州。",
        "张伟和李明是同事。",
        "",
        "今天天气很好。",
    ]
    cfg = NerConfig(
        classes=["person", "location", "organization"],
        model_type="gp",
        encoder="bert",
        logit_bias=-6.0,
    )
    single = PointerNerModel(cfg)
    expected = set()
    for i, spans in enumerate(single.predict_batch(texts)):
        for sp in spans:
            expected.add((str(i), cfg.classes[sp.class_id], sp.entity, sp.start_idx, sp.end_idx))

    df = spark.createDataFrame(
        [(str(i), t) for i, t in enumerate(texts)], "url string, text string"
    ).repartition(3)  # force multiple Arrow batches
    got = {
        (r.url, r.type, r.entity, r.start_idx, r.end_idx)
        for r in detect_mentions(df, cfg).collect()
    }
    assert got == expected


@pytest.mark.skipif(not _hf_available(), reason="torch/transformers not installed")
def test_bert_tokenizer_contract_matches_reference_shape(monkeypatch):
    """The HF encode path reproduces the reference's id/offset contract:
    ids padded/hard-truncated to L with NO [SEP] re-append, offsets from the
    truncation=True call with (0,0) specials (data.py:24-29,41-44,88-90)."""
    monkeypatch.setattr(model_mod, "MAX_SEQUENCE_LENGTH", 16)
    cfg = NerConfig(classes=["person"], model_type="gp", encoder="bert")
    model = PointerNerModel(cfg)
    long_text = "北京" * 40
    ids, mask, offs = model._encode_batch([long_text, "李明"])
    assert ids.shape == (2, 16) and mask.shape == (2, 16)
    sep_id = model.tokenizer.sep_token_id
    assert ids[0][-1] != sep_id  # hard truncate must not re-append [SEP]
    assert offs[0][0] == (0, 0) and len(offs[0]) <= 16
    assert mask[1].sum() == (ids[1] != 0).sum()
