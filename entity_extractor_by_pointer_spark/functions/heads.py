"""Pointer-paradigm span-scoring heads, pure numpy.

Re-implements (from the published math, not the code) the two heads of the
reference:

- **EffiGlobalPointer** (Su Jianlin's Efficient GlobalPointer): a
  multiplicative start×end span-scoring matrix with rotary position
  embeddings. Parity anchors: reference ``engines/models/GlobalPointer.py``
  — sinusoidal embedding (:24-31), interleaved q/k split (:69), RoPE rotation
  (:70-85), ``einsum('bmd,bnd->bmn')/sqrt(inner_dim)`` (:87), per-class
  start/end bias from a ``hidden→2C`` projection halved (:88-91), padding
  mask at −1e12 on the last two axes (:33-53) and strict-lower-triangle
  exclusion (:59-60). ``inner_dim`` fixed at 64 (:14).

- **BinaryPointer** (SpanBERT-style): LayerNorm(eps=1e-12) → Linear(hidden,
  2C) → reshape (B, L, C, 2); reference ``engines/models/BinaryPointer.py:
  13-30``.

These run *inside* mapInPandas UDFs on Arrow batches — GP span scores are
decoded to spans in-UDF and never cross the Arrow boundary
(SURVEY.md §4).
"""

from __future__ import annotations

import numpy as np

INNER_DIM = 64  # reference GlobalPointer.py:14
NEG_INF = 1e12  # reference GlobalPointer.py:39
HEAD_SEED = 7  # seeds the random weights of either head


def sinusoidal_position_embedding(seq_len: int, output_dim: int) -> np.ndarray:
    """(1, seq_len, output_dim) rotary position table.

    pos_emb[p, 2i] = sin(p · 10000^(−2i/d)), pos_emb[p, 2i+1] = cos(...);
    matches reference ``GlobalPointer.py:24-31``.
    """
    position = np.arange(seq_len, dtype=np.float64)[:, None]
    indices = np.arange(output_dim // 2, dtype=np.float64)
    freqs = np.power(10000.0, -2.0 * indices / output_dim)
    angles = position * freqs  # (L, d/2)
    emb = np.stack([np.sin(angles), np.cos(angles)], axis=-1)  # (L, d/2, 2)
    return emb.reshape(1, seq_len, output_dim)


_ROPE_CACHE: dict[int, tuple[int, np.ndarray, np.ndarray]] = {}


def rope_tables(seq_len: int, output_dim: int) -> tuple[np.ndarray, np.ndarray]:
    """(cos_pos, sin_pos) float32 tables of shape (1, seq_len, output_dim).

    Row p of the sinusoidal table depends only on p, so tables for any
    length are prefixes of one cached max-length table — computed once per
    worker and sliced per doc."""
    cached = _ROPE_CACHE.get(output_dim)
    if cached is None or cached[0] < seq_len:
        cap = max(seq_len, 256)
        pos = sinusoidal_position_embedding(cap, output_dim).astype(np.float32)
        cos = np.repeat(pos[..., 1::2], 2, axis=-1)
        sin = np.repeat(pos[..., ::2], 2, axis=-1)
        cached = (cap, cos, sin)
        _ROPE_CACHE[output_dim] = cached
    _cap, cos, sin = cached
    return cos[:, :seq_len], sin[:, :seq_len]


def apply_rope(x: np.ndarray, pos: np.ndarray) -> np.ndarray:
    """Rotate (B, L, d) vectors by the rotary table (1, L, d).

    cos terms sit at odd table columns, sin at even (reference
    ``GlobalPointer.py:73-85``).
    """
    cos_pos = np.repeat(pos[..., 1::2], 2, axis=-1)
    sin_pos = np.repeat(pos[..., ::2], 2, axis=-1)
    x2 = np.stack([-x[..., 1::2], x[..., ::2]], axis=-1).reshape(x.shape)
    return x * cos_pos + x2 * sin_pos


def sequence_masking(x: np.ndarray, mask: np.ndarray, axis: int) -> np.ndarray:
    """Fill masked positions along ``axis`` with −1e12.

    Mirrors reference ``GlobalPointer.py:33-47``: broadcast the (B, L) mask to
    x's rank by inserting axes, then ``x*mask + (−1e12)*(1−mask)``.
    """
    m = mask.astype(x.dtype)
    for _ in range(axis - 1):
        m = np.expand_dims(m, 1)
    while m.ndim < x.ndim:
        m = np.expand_dims(m, m.ndim)
    return x * m + (-NEG_INF) * (1 - m)


def add_mask_tril(logits: np.ndarray, mask: np.ndarray) -> np.ndarray:
    """Padding mask on the last two axes + strict lower-triangle exclusion
    (only start ≤ end spans survive). Reference ``GlobalPointer.py:49-61``."""
    logits = sequence_masking(logits, mask, logits.ndim - 2)
    logits = sequence_masking(logits, mask, logits.ndim - 1)
    tril = np.tril(np.ones(logits.shape[-2:], dtype=logits.dtype), k=-1)
    return logits - tril * NEG_INF


class GlobalPointerHead:
    """EffiGlobalPointer head: hidden states → span scores, in float32 (like
    the reference's torch-default tensors).

    ``qk_and_bias`` is the scoring form production runs: the fused decode in
    ``PointerNerModel.predict_batch`` assembles only the start rows that can
    fire. ``raw_scores`` assembles the full (B, C, L, L) tensor from the same
    pieces; it is the spec that decode is pinned against. Neither applies the
    reference's padding/tril mask: on every valid (unmasked, start ≤ end)
    cell the unmasked logit equals the reference-masked one bit for bit, and
    the decoders enforce validity. ``add_mask_tril`` above remains the
    reference-exact mask; ``tests/test_heads.py`` pins the equality.
    """

    def __init__(self, hidden_size: int, num_labels: int):
        rng = np.random.default_rng(HEAD_SEED)
        scale = 1.0 / np.sqrt(hidden_size)
        self.w1 = rng.normal(0, scale, (hidden_size, INNER_DIM * 2)).astype(np.float32)
        self.b1 = rng.normal(0, 0.02, (INNER_DIM * 2,)).astype(np.float32)
        self.w2 = rng.normal(0, scale, (hidden_size, num_labels * 2)).astype(np.float32)
        self.b2 = rng.normal(0, 0.02, (num_labels * 2,)).astype(np.float32)
        self.num_labels = num_labels

    def raw_scores(self, hidden: np.ndarray) -> np.ndarray:
        """(B, C, L, L) span scores WITHOUT the reference's validity mask.

        On every valid cell this equals the reference-masked output
        bit-for-bit (the mask leaves those cells unchanged). Callers must
        enforce validity at decode time — ``decode_gp``
        already checks ``start ≤ end`` and offset-mapping membership, which
        after per-doc cropping is precisely the valid set. This full tensor
        is the spec the fused decode in ``PointerNerModel.predict_batch`` is
        pinned against; that decode builds only the start rows whose exact
        upper bound can clear the threshold.
        """
        qk, dense = self.qk_and_bias(hidden)
        b, seq_len = qk.shape[0], qk.shape[1]
        c = self.num_labels
        logits = np.empty((b, c, seq_len, seq_len), dtype=np.float32)
        for bi in range(b):
            for ci in range(c):
                # end bias varies along columns, start bias along rows
                np.add(qk[bi], dense[bi, 2 * ci][None, :], out=logits[bi, ci])
                logits[bi, ci] += dense[bi, 2 * ci + 1][:, None]
        return logits

    def qk_and_bias(self, hidden: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Per-position pieces of the score: (B, L, L) rotary q·k matrix and
        the (B, 2C, L) start/end bias rows (reference GlobalPointer.py:87-91).
        ``raw_scores`` assembles full class planes from these; the fused
        decode bounds each start row from their row maxima and assembles
        only the rows that can fire."""
        hidden = hidden.astype(np.float32, copy=False)
        seq_len = hidden.shape[1]
        out = hidden @ self.w1 + self.b1  # (B, L, 2*inner)
        qw, kw = out[..., ::2], out[..., 1::2]  # interleaved split (ref :69)
        cos_pos, sin_pos = rope_tables(seq_len, INNER_DIM)
        # identical arithmetic to apply_rope, with the cos/sin repeats
        # precomputed once per worker instead of per doc
        qw2 = np.stack([-qw[..., 1::2], qw[..., ::2]], axis=-1).reshape(qw.shape)
        qw = qw * cos_pos + qw2 * sin_pos
        kw2 = np.stack([-kw[..., 1::2], kw[..., ::2]], axis=-1).reshape(kw.shape)
        kw = kw * cos_pos + kw2 * sin_pos
        qw = np.ascontiguousarray(qw)
        kw = np.ascontiguousarray(kw)
        qk = (qw @ kw.transpose(0, 2, 1)) * np.float32(1.0 / INNER_DIM**0.5)
        dense = (hidden @ self.w2 + self.b2).transpose(0, 2, 1) * np.float32(0.5)
        return qk, dense


class BinaryPointerHead:
    """SpanBERT-style head: hidden states → (B, L, C, 2) start/end logits."""

    def __init__(self, hidden_size: int, num_labels: int):
        rng = np.random.default_rng(HEAD_SEED)
        scale = 1.0 / np.sqrt(hidden_size)
        self.gamma = rng.normal(1.0, 0.02, (hidden_size,)).astype(np.float32)
        self.beta = rng.normal(0.0, 0.02, (hidden_size,)).astype(np.float32)
        self.w = rng.normal(0, scale, (hidden_size, 2 * num_labels)).astype(np.float32)
        self.b = rng.normal(0, 0.02, (2 * num_labels,)).astype(np.float32)
        self.num_labels = num_labels

    def __call__(self, hidden: np.ndarray, attention_mask: np.ndarray) -> np.ndarray:
        mu = hidden.mean(-1, keepdims=True)
        var = hidden.var(-1, keepdims=True)
        normed = (hidden - mu) / np.sqrt(var + 1e-12) * self.gamma + self.beta
        fc = normed @ self.w + self.b  # (B, L, 2C)
        b, length = fc.shape[0], fc.shape[1]
        return fc.reshape(b, length, self.num_labels, 2)
