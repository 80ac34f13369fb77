"""X2 (model summary) parity tests."""

from entity_extractor_by_pointer_spark.functions import summary as ms
from entity_extractor_by_pointer_spark.functions.model import NerConfig, PointerNerModel


def test_summary_census_totals(tmp_path):
    model = PointerNerModel(NerConfig(classes=["person", "location", "organization"], model_type="gp"))
    rows = ms.summarize_model(model)
    total_row = rows[-1]
    assert total_row["name"] == "TOTAL"
    assert total_row["n_params"] == sum(r["n_params"] for r in rows[:-1])
    names = {r["name"] for r in rows}
    assert "encoder.word_embeddings.weight" in names
    # GP head: w1 (H×2*inner), b1, w2 (H×2C), b2
    assert {"head.w1", "head.b1", "head.w2", "head.b2"} <= names
    emb = next(r for r in rows if r["name"] == "encoder.word_embeddings.weight")
    assert emb["n_params"] == 4096 * 64
    text = ms.format_summary(model)
    assert "TOTAL" in text and "encoder.word_embeddings.weight" in text


def test_summary_covers_bp_head_params():
    model = PointerNerModel(NerConfig(classes=["a"], model_type="bp"))
    names = {r["name"] for r in ms.summarize_model(model)}
    assert {"head.gamma", "head.beta", "head.w", "head.b"} <= names
