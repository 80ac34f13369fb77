import numpy as np

from entity_extractor_by_pointer_spark.functions import heads
from entity_extractor_by_pointer_spark.functions.heads import (
    BinaryPointerHead,
    GlobalPointerHead,
    add_mask_tril,
    apply_rope,
    sequence_masking,
    sinusoidal_position_embedding,
)


def test_sinusoidal_values_match_formula():
    # pos_emb[p, 2i]=sin(p·10000^(−2i/d)), [p,2i+1]=cos(...) per
    # reference GlobalPointer.py:24-31
    emb = sinusoidal_position_embedding(4, 8)[0]
    assert emb.shape == (4, 8)
    p, i, d = 3, 1, 8
    theta = p * 10000 ** (-2 * i / d)
    assert np.isclose(emb[p, 2 * i], np.sin(theta))
    assert np.isclose(emb[p, 2 * i + 1], np.cos(theta))
    assert np.allclose(emb[0, ::2], 0.0) and np.allclose(emb[0, 1::2], 1.0)


def test_rope_preserves_norm_and_is_relative():
    rng = np.random.default_rng(0)
    x = rng.normal(size=(1, 6, 64))
    pos = sinusoidal_position_embedding(6, 64)
    rx = apply_rope(x, pos)
    # rotation preserves norms
    assert np.allclose(np.linalg.norm(rx, axis=-1), np.linalg.norm(x, axis=-1))
    # relative property: <R_m q, R_n k> depends only on n−m
    q = rng.normal(size=(64,))
    k = rng.normal(size=(64,))
    big = sinusoidal_position_embedding(10, 64)

    def dot(m, n):
        qq = apply_rope(q[None, None, :], big[:, m : m + 1]).ravel()
        kk = apply_rope(k[None, None, :], big[:, n : n + 1]).ravel()
        return qq @ kk

    assert np.isclose(dot(2, 5), dot(4, 7))
    assert not np.isclose(dot(2, 5), dot(2, 6))


def test_sequence_masking_and_tril():
    logits = np.zeros((1, 2, 5, 5))
    mask = np.array([[1, 1, 1, 0, 0]])
    out = add_mask_tril(logits, mask)
    # padding rows/cols −1e12
    assert (out[0, :, 3:, :] < -1e11).all()
    assert (out[0, :, :, 3:] < -1e11).all()
    # strict lower triangle excluded
    assert (out[0, :, 2, 1] < -1e11).all()
    # valid upper-triangle cells untouched
    assert out[0, 0, 0, 2] == 0.0
    assert out[0, 0, 1, 1] == 0.0


def test_sequence_masking_matches_reference_arithmetic():
    # axis names the masked dimension (reference GlobalPointer.py:33-47):
    # for (B, L, L) input, axis=2 masks columns, axis=1 masks rows
    x = np.ones((1, 3, 3))
    mask = np.array([[1, 1, 0]])
    out = sequence_masking(x, mask, axis=2)
    assert out[0, 0, 2] == -1e12 and out[0, 2, 0] == 1.0 and out[0, 0, 0] == 1.0
    out_rows = sequence_masking(x, mask, axis=1)
    assert out_rows[0, 2, 0] == -1e12 and out_rows[0, 0, 2] == 1.0


def test_gp_head_shapes_and_determinism(monkeypatch):
    head = GlobalPointerHead(hidden_size=16, num_labels=3)
    h = np.random.default_rng(1).normal(size=(2, 5, 16))
    out1, out2 = head.raw_scores(h), head.raw_scores(h)
    assert out1.shape == (2, 3, 5, 5)
    assert np.array_equal(out1, out2)
    # different seeds → different weights
    monkeypatch.setattr(heads, "HEAD_SEED", 8)
    assert not np.allclose(GlobalPointerHead(16, 3).raw_scores(h), out1)


def test_gp_fast_mask_equals_reference_spec():
    """The head's unmasked ``raw_scores`` (assembled from the production
    ``qk_and_bias`` pieces) must match the reference's multiplicative
    add_mask_tril (GlobalPointer.py:49-61) on every VALID cell bit-for-bit;
    the spec masks every invalid cell to ≤ −1e11."""
    head = GlobalPointerHead(hidden_size=16, num_labels=2)
    rng = np.random.default_rng(3)
    h = rng.normal(size=(2, 7, 16)).astype(np.float32)
    mask = np.array([[1, 1, 1, 1, 1, 0, 0], [1, 1, 1, 0, 0, 0, 0]])
    fast = head.raw_scores(h)

    # recompute the raw logits independently, then apply the exact spec
    out = h @ head.w1 + head.b1
    qw, kw = out[..., ::2], out[..., 1::2]
    pos = sinusoidal_position_embedding(7, 64).astype(np.float32)
    qw, kw = apply_rope(qw, pos), apply_rope(kw, pos)
    raw = (np.ascontiguousarray(qw) @ np.ascontiguousarray(kw).transpose(0, 2, 1)) * np.float32(
        1.0 / 8.0
    )
    dense = (h @ head.w2 + head.b2).transpose(0, 2, 1) * np.float32(0.5)
    raw = raw[:, None] + dense[:, ::2, None] + dense[:, 1::2, :, None]
    spec = add_mask_tril(raw, mask)

    valid = np.broadcast_to(
        (mask[:, :, None] * mask[:, None, :])[:, None] * np.triu(np.ones((7, 7))), fast.shape
    )
    assert np.array_equal(fast[valid == 1], spec[valid == 1])
    assert (spec[valid == 0] < -1e11).all()


def test_bp_head_shape_and_interleave():
    head = BinaryPointerHead(hidden_size=16, num_labels=3)
    h = np.random.default_rng(2).normal(size=(2, 5, 16))
    out = head(h, np.ones((2, 5)))
    assert out.shape == (2, 5, 3, 2)
    # reshape semantics match torch .view(B, L, C, 2): row-major
    mu = h.mean(-1, keepdims=True)
    var = h.var(-1, keepdims=True)
    normed = (h - mu) / np.sqrt(var + 1e-12) * head.gamma + head.beta
    fc = normed @ head.w + head.b
    assert np.allclose(out[0, 0, 1, 0], fc[0, 0, 2])
    assert np.allclose(out[0, 0, 1, 1], fc[0, 0, 3])
