"""End-to-end pointer-NER model: tokenize → encode → head → decode.

One implementation shared by (a) the Spark mapInPandas mention-detection
operator and (b) the single-process parity oracle in tests — so the pytest
suite verifies that the *Spark plumbing* (Arrow batching, partitioning,
shuffle) preserves the reference semantics end-to-end.

Pipeline order mirrors reference ``engines/predict.py:31-48`` (predict path)
and ``engines/data.py:31-81`` (batch collate path): ids come from an
UNtruncated encode then ``pad_or_truncate`` to ``MAX_SEQUENCE_LENGTH``
(``data.py:41-44,24-29``) while the decode-side offset mapping comes from a
``truncation=True`` encode (``data.py:88-90``). On the seeded path both come
from one vectorized tokenize pass per batch
(``tokenizer.encode_batch_for_inference``), whose rows equal the
per-document spec ``tokenizer.encode_for_inference``.
"""

from __future__ import annotations

from dataclasses import astuple, dataclass, field

import numpy as np

from .decode import Span, build_offset_maps, decode_bp, spans_to_sets
from .encoder import SeededTinyEncoder
from .heads import BinaryPointerHead, GlobalPointerHead
# encode_for_inference (the per-document spec of the batch tokenizer) stays
# importable from here: the benchmark's layer probe looks it up on this module
from .tokenizer import CjkCharTokenizer, encode_batch_for_inference, encode_for_inference  # noqa: F401


# tokens per document the model sees, [CLS] and [SEP] included (reference
# config.py:57); read at call time
MAX_SEQUENCE_LENGTH = 200

# head logit bias per model type when the config sets none: a small, nonzero
# fraction of valid cells clears the decode threshold (random weights alone
# are ~50/50); BP's sigmoid heads fire nothing at GP's −4.0
LOGIT_BIAS = {"gp": -4.0, "bp": -2.0}


@dataclass
class NerConfig:
    classes: list[str]
    model_type: str  # 'gp' | 'bp'  (reference config.py:28-30)
    logit_bias: float | None = None  # None: LOGIT_BIAS[model_type]
    # production plug point: 'seeded' = deterministic numpy stand-in (this
    # sandbox); 'bert' = BertTokenizerFast + TorchBertEncoder, the reference's
    # real tokenizer/encoder pair (engines/data.py:17, predict.py:36-44) —
    # exercised by the skip-gated test in tests/test_production_encoder.py
    # wherever torch/transformers are installed. The head width follows the
    # encoder's hidden size (768 for bert-base-chinese).
    encoder: str = "seeded"  # 'seeded' | 'bert'

    def __post_init__(self):
        if self.logit_bias is None:
            self.logit_bias = LOGIT_BIAS[self.model_type]

    @property
    def num_labels(self) -> int:
        return len(self.classes)


class PointerNerModel:
    """Deterministic NER model with the reference's exact decode semantics."""

    def __init__(self, config: NerConfig):
        self.config = config
        if config.encoder == "bert":
            # production pair: HF fast tokenizer + batched BERT forward
            # (reference engines/data.py:17, predict.py:36-44); import-gated —
            # load_torch_bert_encoder raises NotImplementedError without torch
            from transformers import BertTokenizerFast

            from .encoder import BERT_CHECKPOINT, load_torch_bert_encoder

            self.tokenizer = BertTokenizerFast.from_pretrained(BERT_CHECKPOINT)
            self.encoder = load_torch_bert_encoder()
        else:
            self.tokenizer = CjkCharTokenizer()
            self.encoder = SeededTinyEncoder()
        # the head width follows the encoder
        hidden = self.encoder.hidden_size
        if config.model_type == "gp":
            self.head = GlobalPointerHead(hidden, config.num_labels)
        else:
            self.head = BinaryPointerHead(hidden, config.num_labels)

    def _encode_batch(
        self, texts: list[str]
    ) -> tuple[np.ndarray, np.ndarray, np.ndarray | list]:
        """ids and attention mask (B, L) int32, plus the per-document offset
        mappings: a (B, L, 2) array on the seeded path, lists on ``bert``."""
        L = MAX_SEQUENCE_LENGTH
        if self.config.encoder == "bert":
            ids, masks, offsets = [], [], []
            # the reference's two tokenizer calls verbatim: UNtruncated ids
            # right-padded/hard-truncated to L (data.py:41-44,24-29) + the
            # truncation=True offset mapping decode reads (data.py:88-90)
            from .tokenizer import pad_or_truncate

            for text in texts:
                enc = self.tokenizer(text)
                ids.append(pad_or_truncate(enc["input_ids"], L))
                masks.append(pad_or_truncate(enc["attention_mask"], L))
                off = self.tokenizer(
                    text,
                    return_offsets_mapping=True,
                    max_length=L,
                    truncation=True,
                )["offset_mapping"]
                offsets.append([tuple(o) for o in off])
            return np.asarray(ids, dtype=np.int32), np.asarray(masks, dtype=np.int32), offsets
        return encode_batch_for_inference(texts, L)

    def predict_batch(self, texts: list[str]) -> list[list[Span]]:
        if not texts:
            return []
        input_ids, attention_mask, offsets = self._encode_batch(texts)
        hidden = self.encoder(input_ids, attention_mask)
        bias = np.float32(self.config.logit_bias)
        out: list[list[Span]] = []
        if self.config.model_type == "gp":
            # Per-doc length cropping: every cell with start/end beyond the
            # doc's true token count is −1e12-masked in the full (C, L, L)
            # computation and can never decode, and all head ops are
            # per-position, so computing only the (C, l, l) submatrix yields
            # bit-identical surviving cells at ~ (l/L)² of the cost. The
            # crop is per-document, hence independent of batch composition —
            # the single-process oracle and the Spark UDF stay in exact
            # agreement. (BP is NOT cropped: its decode quirk lets padded
            # positions above the sigmoid threshold consume starts via the
            # break rule — reference engines/data.py:98-106.)
            lengths = attention_mask.sum(axis=1)
            for i, text in enumerate(texts):
                li = int(lengths[i])
                # Fused score+decode with an exact per-row bound: a cell is
                # ((qk[s,e] + end_c[e]) + start_c[s]) + bias in float32 (the
                # op order of GlobalPointerHead.raw_scores), and rounding is
                # monotone, so the same sum over the row maxima of qk and
                # end_c bounds every cell of row (c, s). Rows whose bound is
                # not > 0 cannot fire and are never built; the candidate rows
                # are gathered and scored in one vectorized pass, so every
                # surviving score is bit-identical and the (C, l, l) tensor
                # never exists. fmax ignores NaN cells (which never fire) so
                # one NaN cannot hide the row's other cells. After cropping,
                # decode's start≤end + offset-mapping checks enforce exactly
                # the validity set the reference's −1e12 penalty would.
                qk, dense = self.head.qk_and_bias(hidden[i : i + 1, :li])
                qk, end, start = qk[0], dense[0, 0::2], dense[0, 1::2]
                bound = np.fmax.reduce(qk, axis=1) + np.fmax.reduce(end, axis=1)[:, None]
                bound += start
                bound += bias
                ci, si = np.nonzero(bound > 0)  # class-major, then start
                rows = qk[si] + end[ci]
                rows += start[ci, si][:, None]
                rows += bias
                hit_row, hit_end = np.nonzero(rows > 0)
                upper = si[hit_row] <= hit_end
                hit_row, hit_end = hit_row[upper], hit_end[upper]
                if not hit_row.size:  # most documents: no offset maps to build
                    out.append([])
                    continue
                start_mapping, end_mapping = build_offset_maps(np.asarray(offsets[i]).tolist())
                spans: list[Span] = []
                for c, s, e, score in zip(
                    ci[hit_row].tolist(),
                    si[hit_row].tolist(),
                    hit_end.tolist(),
                    rows[hit_row, hit_end].tolist(),
                ):
                    if s in start_mapping and e in end_mapping:
                        cs, ce = start_mapping[s], end_mapping[e]
                        spans.append(Span(c, text[cs : ce + 1], cs, ce, score))
                out.append(spans)
        else:
            logits = self.head(hidden, attention_mask) + bias
            for i, text in enumerate(texts):
                out.append(decode_bp(text, logits[i], np.asarray(offsets[i]).tolist()))
        return out


    def predict_one(self, sentence: str) -> dict[str, list[str]]:
        """Interactive single-sentence API (reference ``predict.py:31-48``,
        ``main.py:57-63``): spans → per-class surface-form sets → class
        names at the edge (``predict.py:45-48``). Debug/REPL helper; the
        distributed path is ``operators.mentions.detect_mentions``."""
        sets = spans_to_sets(self.predict_batch([sentence])[0])
        return {self.config.classes[cid]: sorted(s) for cid, s in sets.items()}


@dataclass
class _ModelCache:
    """Per-executor-process model singleton (one init per Python worker)."""

    cache: dict = field(default_factory=dict)

    def get(self, config: NerConfig) -> PointerNerModel:
        # every field, so two configs that differ anywhere never share a model
        key = tuple(tuple(v) if isinstance(v, list) else v for v in astuple(config))
        if key not in self.cache:
            self.cache[key] = PointerNerModel(config)
        return self.cache[key]


MODEL_CACHE = _ModelCache()
