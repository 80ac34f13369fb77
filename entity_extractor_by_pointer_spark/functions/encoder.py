"""Pluggable sentence encoders for the mention-detection stage.

The reference encodes with ``BertModel.from_pretrained('bert-base-chinese')``
(reference ``engines/models/GlobalPointer.py:12``, ``BinaryPointer.py:17``).
No GPU/weights exist in this sandbox, so per SURVEY.md §7.2 the encoder is a
pluggable component:

- ``SeededTinyEncoder`` — deterministic numpy pseudo-encoder: hashed token
  embeddings + a fixed local mixing window, so hidden states depend on token
  identity AND local context, giving non-trivial span scores. Used by the
  pytest parity suite: the Spark pipeline and the single-process oracle share
  the same seeded weights, so emitted spans must match exactly (P/R = 1.0
  ≥ the 0.95 gate).
- ``TorchBertEncoder`` (production path) — loads a HF checkpoint and runs
  batched GPU kernels inside mapInPandas; gated behind an import-try since
  torch/transformers are not installed here.

Embeddings are bucketed (``EMB_BUCKETS``) so executor memory is O(1) in vocab.
"""

from __future__ import annotations

import numpy as np

EMB_BUCKETS = 4096
# the HF checkpoint of the production tokenizer/encoder pair
BERT_CHECKPOINT = "bert-base-chinese"


class SeededTinyEncoder:
    """token ids (B, L) int32 + attention mask → hidden states (B, L, 64),
    weights seeded by 3."""

    def __init__(self):
        rng = np.random.default_rng(3)
        self.hidden_size = 64
        self.emb = rng.normal(0, 1.0, (EMB_BUCKETS, self.hidden_size)).astype(np.float32)

    def __call__(self, input_ids: np.ndarray, attention_mask: np.ndarray) -> np.ndarray:
        ids = np.asarray(input_ids) % EMB_BUCKETS
        h = self.emb[ids]  # (B, L, H) float32
        # fixed causal/anticausal mixing so states are context-dependent:
        # out[k] = h[k] + 0.5·h[k−1] + 0.25·h[k+1] (slice form — same float
        # op order as the roll-based definition, no roll temporaries)
        out = h.copy()
        out[:, 1:] += np.float32(0.5) * h[:, :-1]
        out[:, :-1] += np.float32(0.25) * h[:, 1:]
        return out * np.asarray(attention_mask, dtype=np.float32)[..., None]


class TorchBertEncoder:  # pragma: no cover - torch absent in this sandbox
    """Production encoder: batched BERT forward on GPU inside the same
    mapInPandas shell (reference ``BinaryPointer.py:17`` /
    ``GlobalPointer.py:12`` load ``BERT_CHECKPOINT``; the north rule runs
    this as batched GPU kernels with no per-row Python). One instance per
    executor python worker via MODEL_CACHE; forwards of 64 sequences bound
    GPU memory alongside the Arrow batch size. Runs on CUDA where available."""

    def __init__(self):
        import torch
        from transformers import BertModel

        self._torch = torch
        self.device = "cuda" if torch.cuda.is_available() else "cpu"
        self.model = BertModel.from_pretrained(BERT_CHECKPOINT).to(self.device).eval()
        self.hidden_size = self.model.config.hidden_size

    def __call__(self, input_ids: np.ndarray, attention_mask: np.ndarray) -> np.ndarray:
        torch = self._torch
        outs = []
        with torch.no_grad():
            for i in range(0, len(input_ids), 64):
                ids = torch.as_tensor(input_ids[i : i + 64], dtype=torch.long, device=self.device)
                mask = torch.as_tensor(attention_mask[i : i + 64], dtype=torch.long, device=self.device)
                hidden = self.model(ids, attention_mask=mask).last_hidden_state
                outs.append(hidden.float().cpu().numpy())
        return np.concatenate(outs, axis=0)


def load_torch_bert_encoder() -> "TorchBertEncoder":
    """Production encoder factory (GPU path); raises a clear error where
    torch/transformers are not installed (this sandbox)."""
    try:
        import torch  # noqa: F401
        from transformers import BertModel  # noqa: F401
    except ImportError as exc:  # pragma: no cover - sandbox has no torch
        raise NotImplementedError(
            "torch/transformers not installed in this environment; "
            "use SeededTinyEncoder for deterministic tests"
        ) from exc
    return TorchBertEncoder()
