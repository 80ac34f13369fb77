"""ONNX export path (SURVEY.md §2 X1).

The reference exports its pointer model to ONNX (``engines/predict.py:65-75``)
and, because ONNX opset 13 has no ``tril``, swaps the lower-triangle mask for
arange-comparison arithmetic (``engines/utils/onnx_fun.py:5-42``). This
module ports that tril-free arithmetic to numpy and proves (pytest) that the
GlobalPointer mask built from it is bit-identical to the reference-spec
``add_mask_tril`` — i.e. the exported graph would decode the same spans.

Actually serializing the graph needs the ``onnx`` package, which is not
installed in this sandbox, so the serialize entry point is import-gated with
a clear error while the arithmetic (the part that changes model semantics)
is real and tested.
At production scale, ``onnxruntime`` CPU sessions inside the same
mapInPandas shell are the fast inference path on non-GPU executors — one
session per python worker via MODEL_CACHE, exactly like the numpy model.
"""

from __future__ import annotations

import numpy as np

from .heads import NEG_INF, add_mask_tril


def tril_onnx(inputs: np.ndarray, diagonal: int = 0) -> np.ndarray:
    """Lower-triangle keep-mask via arange comparison — no ``tril`` op.

    Port of reference ``onnx_fun.py:8-21`` (``tril_onnx2``) generalized over
    leading batch axes: keep ``inputs[..., i, j]`` where ``i >= j − diagonal``,
    zero elsewhere (the reference's 3D/4D wrappers loop the same 2D rule
    over leading axes; broadcasting does it in one shot).
    """
    rows = np.arange(inputs.shape[-2])[:, None]
    cols = np.arange(inputs.shape[-1])[None, :]
    keep = rows >= (cols - diagonal)
    return np.where(keep, inputs, np.zeros((), dtype=inputs.dtype))


def add_mask_tril_onnx(logits: np.ndarray, mask: np.ndarray) -> np.ndarray:
    """ONNX-exportable form of ``heads.add_mask_tril``: same padding masking,
    with the strict-lower-triangle exclusion built from ``tril_onnx`` on a
    ones matrix instead of ``np.tril`` — bit-identical output (pytest)."""
    from .heads import sequence_masking

    logits = sequence_masking(logits, mask, logits.ndim - 2)
    logits = sequence_masking(logits, mask, logits.ndim - 1)
    ones = np.ones(logits.shape[-2:], dtype=logits.dtype)
    tril_strict = tril_onnx(ones, diagonal=-1)
    return logits - tril_strict * NEG_INF


def masked_scores_equal_reference(logits: np.ndarray, mask: np.ndarray) -> bool:
    """True iff the tril-free mask path reproduces the reference-spec mask
    bit-for-bit on these inputs (the export-parity invariant)."""
    a = add_mask_tril(logits.copy(), mask)
    b = add_mask_tril_onnx(logits.copy(), mask)
    return bool(np.array_equal(a, b))


def convert_onnx(model, path: str) -> None:
    """Serialize the pointer model to ONNX (reference ``predict.py:65-75``).

    Requires the ``onnx`` package (not installed in this sandbox)."""
    try:
        import onnx  # noqa: F401
    except ImportError as exc:
        raise NotImplementedError(
            "the 'onnx' package is not installed in this environment; the "
            "tril-free mask arithmetic (the semantic part of the export) is "
            "implemented and parity-tested in this module"
        ) from exc
    raise NotImplementedError("graph serialization requires torch.onnx.export")
