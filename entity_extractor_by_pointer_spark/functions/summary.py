"""Model summary (SURVEY.md §2 X2): parameter census of the pointer model.

The reference prints a vendored-textpruner parameter summary
(``engines/predict.py:77-80``: name → shape → count, 3 levels deep). Here the
census walks the numpy model's arrays and returns structured rows, so it can
feed logs, the _metrics table, or a DataFrame.
"""

from __future__ import annotations

import numpy as np


def named_parameters(model) -> list[tuple[str, np.ndarray]]:
    """(dotted name, array) for every numpy parameter of a PointerNerModel,
    mirroring torch's ``model.named_parameters()`` naming depth."""
    out: list[tuple[str, np.ndarray]] = []
    enc = model.encoder
    out.append(("encoder.word_embeddings.weight", enc.emb))
    head = model.head
    for attr in ("w1", "b1", "w2", "b2", "gamma", "beta", "w", "b"):
        arr = getattr(head, attr, None)
        if isinstance(arr, np.ndarray):
            out.append((f"head.{attr}", arr))
    return out


def summarize_model(model) -> list[dict]:
    """Per-parameter census rows + a grand-total row (textpruner-style)."""
    rows = []
    total = 0
    for name, arr in named_parameters(model):
        rows.append(
            {
                "name": name,
                "shape": "x".join(str(d) for d in arr.shape),
                "n_params": int(arr.size),
                "dtype": str(arr.dtype),
            }
        )
        total += arr.size
    rows.append({"name": "TOTAL", "shape": "", "n_params": int(total), "dtype": ""})
    return rows


def format_summary(model) -> str:
    """Human-readable block like the reference's ``summary(model)`` print."""
    rows = summarize_model(model)
    width = max(len(r["name"]) for r in rows) + 2
    lines = [f"{'name':<{width}}{'shape':>14}{'params':>12}"]
    for r in rows:
        lines.append(f"{r['name']:<{width}}{r['shape']:>14}{r['n_params']:>12,}")
    return "\n".join(lines)
