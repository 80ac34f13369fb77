"""Golden parity suite: the Spark pipeline must emit byte-identical spans to
a single-process oracle executing the reference algorithms, on a
deterministic synthetic corpus in the reference dev-set record shape and, when
present, on the reference's own dev datasets (BASELINE.md gate: P/R ≥ 0.95;
expected 1.0 with shared weights — SURVEY.md §7.2)."""

import json
import os
from collections import Counter

import pytest

from entity_extractor_by_pointer_spark.functions.gazetteer import PAGES_GAZETTEER, gazetteer_spans
from entity_extractor_by_pointer_spark.functions.model import NerConfig, PointerNerModel
from entity_extractor_by_pointer_spark.functions.tokenizer import CjkCharTokenizer, basic_tokenize
from entity_extractor_by_pointer_spark.operators.evaluate import gold_mention_sets, span_f1
from entity_extractor_by_pointer_spark.operators.mentions import detect_mentions, mention_sets
from entity_extractor_by_pointer_spark.sources.pages import _synth_text, reference_dataset_as_pages

from .reference_oracle import gold_sets_reference, validate_counts

DS2 = "/root/reference/data/example_datasets2/dev_data.json"
DS1 = "/root/reference/data/example_datasets1/dev_data.json"
DS3 = "/root/reference/data/example_datasets3/dev_data.json"
SYNTH = "synthetic"  # the corpus the parity_corpus fixture writes
CLASSES2 = ["person", "location", "organization"]
CLASSES1 = ["company", "position", "detail"]
CLASSES3 = ["pro", "dis", "sym", "ite", "bod", "dru", "mic", "equ", "dep"]
N_DOCS = 400  # subset for test runtime; full-set parity holds by construction


def _dev_set(path):
    return pytest.mark.skipif(not os.path.exists(path), reason=f"reference dev set {path} is absent")


@pytest.fixture(scope="module")
def parity_corpus(tmp_path_factory):
    """Deterministic dev set in the reference record shape, built from the
    page generator with gazetteer gold spans. It holds filler-only documents
    with no entity, repeated mentions, a hot entity, documents over 200
    tokens, and gold spans the alignment filter must drop: ``cme`` inside
    ``Acme`` (not token-aligned), spans starting past token 198, and a span
    on tokens 197-198 whose surface is nowhere else in its document (page 268),
    which only the exact window edge drops."""
    texts = [_synth_text(i) for i in range(120)] + [
        _synth_text(i, min_sents=10, extra_sents=5) for i in [*range(120, 150), 268]
    ]
    one_sentence = [_synth_text(i, min_sents=1, extra_sents=2) for i in range(150, 170)]
    texts += one_sentence  # every fourth one is filler only
    records = [
        {
            "text": text,
            "entities": [
                {"start_idx": s, "end_idx": e, "type": etype, "entity": surface}
                for etype, surface, s, e in gazetteer_spans(text, PAGES_GAZETTEER)
            ],
        }
        for text in texts
    ]
    acme = next(r for r in records if "Acme" in r["text"])
    s = acme["text"].index("Acme") + 1
    acme["entities"].append({"start_idx": s, "end_idx": s + 2, "type": "organization", "entity": "cme"})

    token_starts = [[ts for _t, ts, _e in basic_tokenize(r["text"])] for r in records]
    late = [ent for r, ts in zip(records, token_starts) for ent in r["entities"] if ent["start_idx"] in ts[198:]]
    assert late, "no gold span starts past token 198"
    edge = records[150]
    (guangzhou,) = [e for e in edge["entities"] if e["start_idx"] == token_starts[150][197]]
    assert [e["entity"] for e in edge["entities"]].count(guangzhou["entity"]) == 1
    assert sum(not r["entities"] for r in records) >= 3
    assert any(len(basic_tokenize(t)) > 200 for t in texts)
    assert any(n > 1 for r in records for n in Counter(e["entity"] for e in r["entities"]).values())
    docs_per_entity = Counter(e for r in records for e in {x["entity"] for x in r["entities"]})
    assert docs_per_entity.most_common(1)[0][1] > len(records) / 10, "no hot entity"
    categories = {c: i for i, c in enumerate(CLASSES2)}
    kept = sum(
        len(v)
        for r in records
        for v in gold_sets_reference(r["text"], r["entities"], categories, CjkCharTokenizer()).values()
    )
    assert kept < sum(len({(e["type"], e["entity"]) for e in r["entities"]}) for r in records)

    path = tmp_path_factory.mktemp("parity") / "dev_data.json"
    path.write_text(json.dumps(records, ensure_ascii=False), encoding="utf-8")
    return str(path)


def _records(path, n):
    with open(path, encoding="utf-8") as f:
        return json.load(f)[:n]


@pytest.mark.parametrize(
    "path,classes,model_type,bias",
    [
        (SYNTH, CLASSES2, "gp", -4.0),
        (SYNTH, CLASSES2, "bp", -2.0),
        (SYNTH, CLASSES1, "gp", -4.0),
        (SYNTH, CLASSES3, "gp", -4.0),
        (SYNTH, CLASSES3, "bp", -2.0),
        pytest.param(DS2, CLASSES2, "gp", -4.0, marks=_dev_set(DS2)),
        pytest.param(DS2, CLASSES2, "bp", -2.0, marks=_dev_set(DS2)),
        pytest.param(DS1, CLASSES1, "gp", -4.0, marks=_dev_set(DS1)),
        pytest.param(DS3, CLASSES3, "gp", -4.0, marks=_dev_set(DS3)),
        pytest.param(DS3, CLASSES3, "bp", -2.0, marks=_dev_set(DS3)),
    ],
)
def test_spark_pipeline_matches_single_process_oracle(
    spark, parity_corpus, path, classes, model_type, bias
):
    path = parity_corpus if path == SYNTH else path
    records = _records(path, N_DOCS)
    cfg = NerConfig(classes=classes, model_type=model_type, logit_bias=bias)

    # single-process oracle: same algorithms, same weights, no Spark
    oracle = PointerNerModel(cfg)
    texts = [r.get("text") or "" for r in records]
    urls = [f"ref://doc/{i}" for i in range(len(records))]
    oracle_spans = set()
    for url, spans in zip(urls, oracle.predict_batch(texts)):
        for sp in spans:
            oracle_spans.add((url, classes[sp.class_id], sp.entity, sp.start_idx, sp.end_idx, round(sp.score, 9)))
    assert oracle_spans, "oracle produced no spans — parity test would be vacuous"

    # distributed pipeline over the same records (pages-table shape)
    pages = reference_dataset_as_pages(spark, path).limit(N_DOCS).repartition(8)
    mentions = detect_mentions(pages, cfg)
    spark_spans = {
        (r["url"], r["type"], r["entity"], r["start_idx"], r["end_idx"], round(r["score"], 9))
        for r in mentions.collect()
    }
    assert spark_spans == oracle_spans

    # span-F1 between Spark predictions and oracle predictions must clear
    # the BASELINE gate (it is exactly 1.0 when the sets are equal)
    pred = mention_sets(mentions)
    oracle_rows = [(u, t, e) for (u, t, e, _s, _e2, _sc) in oracle_spans]
    gold = spark.createDataFrame(oracle_rows, "url string, type string, entity string").dropDuplicates()
    metrics, macro = span_f1(spark, pred, gold, classes)
    rows = {r["type"]: r for r in metrics.collect()}
    for cls in classes:
        if rows[cls]["precision"] == 0 and rows[cls]["recall"] == 0:
            continue  # class never predicted by the random-weight scorer
        assert rows[cls]["precision"] >= 0.95
        assert rows[cls]["recall"] >= 0.95


@pytest.mark.parametrize("path", [SYNTH, pytest.param(DS2, marks=_dev_set(DS2))])
def test_distributed_eval_matches_reference_validate(spark, parity_corpus, path):
    """span_f1 (distributed) == Train.validate (verbatim python) on real
    predictions vs gold sets from a dev set in the reference record shape."""
    path = parity_corpus if path == SYNTH else path
    records = _records(path, 300)
    classes = CLASSES2
    categories = {c: i for i, c in enumerate(classes)}
    # bias 0: at -4 the random-weight model hits no gold surface, every
    # count A is 0, and the comparison would hold whatever the gold filter did
    cfg = NerConfig(classes=classes, model_type="gp", logit_bias=0.0)
    model = PointerNerModel(cfg)

    texts = [r.get("text") or "" for r in records]
    preds = model.predict_batch(texts)
    docs = []
    for rec, spans in zip(records, preds):
        pred_sets: dict[int, set] = {}
        for sp in spans:
            pred_sets.setdefault(sp.class_id, set()).add(sp.entity)
        gold_sets = gold_sets_reference(
            rec.get("text") or "", rec.get("entities", []), categories, model.tokenizer
        )
        docs.append((pred_sets, gold_sets))
    ref = validate_counts(docs, len(classes))
    assert any(ref[str(cid)]["recall"] > 0 for cid in categories.values()), "no prediction hits gold"

    # distributed path
    pages = reference_dataset_as_pages(spark, path).limit(300)
    mentions = detect_mentions(pages, cfg)
    pred_df = mention_sets(mentions)
    gold_df = gold_mention_sets(pages)
    metrics, macro = span_f1(spark, pred_df, gold_df, classes)
    got = {r["type"]: r for r in metrics.collect()}
    for cls, cid in categories.items():
        assert got[cls]["precision"] == pytest.approx(ref[str(cid)]["precision"], abs=1e-9)
        assert got[cls]["recall"] == pytest.approx(ref[str(cid)]["recall"], abs=1e-9)
        assert got[cls]["f1"] == pytest.approx(ref[str(cid)]["f1"], abs=1e-9)
    assert macro == pytest.approx(ref["_macro"]["f1"], abs=1e-9)


@pytest.mark.parametrize("path", [SYNTH, pytest.param(DS2, marks=_dev_set(DS2))])
def test_fused_decode_equals_reference_spec_path(parity_corpus, path):
    """The model's fused per-class-plane score+decode must emit exactly the
    spans of the unfused path (full raw_scores tensor → decode_gp), which in
    turn matches the reference-masked spec (test_heads)."""
    import numpy as np

    from entity_extractor_by_pointer_spark.functions.decode import decode_gp

    records = _records(parity_corpus if path == SYNTH else path, 80)
    texts = [r.get("text") or "" for r in records]
    cfg = NerConfig(classes=CLASSES2, model_type="gp")
    m = PointerNerModel(cfg)
    fused = m.predict_batch(texts)
    ids, mask, offs = m._encode_batch(texts)
    hidden = m.encoder(ids, mask)
    for i, text in enumerate(texts):
        li = int(mask[i].sum())
        logits = m.head.raw_scores(hidden[i : i + 1, :li])[0] + np.float32(cfg.logit_bias)
        assert [tuple(s) for s in fused[i]] == [tuple(s) for s in decode_gp(text, logits, offs[i])]


def test_truncation_hides_entities_past_200_tokens(spark):
    """Reference truncates at max_sequence_length=200 (data.py:24-29,
    config.py:57): entities beyond the window are undetectable AND their
    gold spans are dropped by the alignment filter."""
    text = "跑" * 250 + "广州"
    gold = [{"start_idx": 250, "end_idx": 251, "type": "location", "entity": "广州"}]
    cfg = NerConfig(classes=CLASSES2, model_type="gp")
    model = PointerNerModel(cfg)
    spans = model.predict_batch([text])[0]
    assert all(sp.end_idx < 199 for sp in spans)
    categories = {c: i for i, c in enumerate(CLASSES2)}
    assert gold_sets_reference(text, gold, categories, model.tokenizer) == {}
