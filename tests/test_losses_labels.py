"""S2 parity: the ``predict_one`` interactive API (SURVEY.md §2)."""

import dataclasses

from entity_extractor_by_pointer_spark.functions import model as model_mod
from entity_extractor_by_pointer_spark.functions.model import NerConfig, PointerNerModel


def test_predict_one_interactive_api():
    cfg = NerConfig(classes=["person", "location", "organization"], model_type="gp", logit_bias=-2.0)
    m = PointerNerModel(cfg)
    res = m.predict_one("1992年11月，在广州举行的博览会上李明发言。")
    assert isinstance(res, dict)
    assert all(k in cfg.classes for k in res)
    assert all(isinstance(v, list) for v in res.values())


def test_model_cache_keys_on_every_config_field(monkeypatch):
    """Two configs that differ in any one field get two models; an equal
    config gets the cached one."""
    monkeypatch.setattr(model_mod, "PointerNerModel", lambda cfg: object())
    cache = model_mod._ModelCache()
    base = NerConfig(classes=["person"], model_type="gp")
    variants = {"classes": ["location"], "model_type": "bp", "logit_bias": 1.0, "encoder": "bert"}
    assert set(variants) == {f.name for f in dataclasses.fields(NerConfig)}
    first = cache.get(base)
    assert cache.get(NerConfig(classes=["person"], model_type="gp")) is first
    for name, value in variants.items():
        assert cache.get(dataclasses.replace(base, **{name: value})) is not first, name
