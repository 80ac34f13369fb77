"""S2 parity: the ``predict_one`` interactive API (SURVEY.md §2)."""

from entity_extractor_by_pointer_spark.functions.model import NerConfig, PointerNerModel


def test_predict_one_interactive_api():
    cfg = NerConfig(classes=["person", "location", "organization"], logit_bias=-2.0)
    m = PointerNerModel(cfg)
    res = m.predict_one("1992年11月，在广州举行的博览会上李明发言。")
    assert isinstance(res, dict)
    assert all(k in cfg.classes for k in res)
    assert all(isinstance(v, list) for v in res.values())
