"""Span decoding — the semantic heart of the reference, reproduced exactly.

Parity anchors (SURVEY.md §7.1), all from reference ``engines/data.py``:

- offset mappings: ``start_mapping = {tok_i: char_start}``, ``end_mapping =
  {tok_i: char_end_exclusive − 1}`` over the truncated encoding, special
  tokens ``(0, 0)`` excluded (``data.py:88-92``);
- **GP decode** (``data.py:107-114``): emit every cell with ``logit > 0`` and
  ``start ≤ end`` (threshold 0 works because add_mask_tril already −1e12'd
  padding and start>end cells);
- **BP decode** (``data.py:93-106``): sigmoid + threshold on the start and
  end planes; for each thresholded (start, class) the FIRST thresholded
  (end, class') with ``start ≤ end`` and ``class' == class`` wins and the
  inner loop ``break``s — note the break fires even when the offset-mapping
  membership check fails, which we reproduce;
- inclusive char slice ``text[start : end + 1]`` (``data.py:104,113``);
- per-(doc, class) set semantics on surface forms (``data.py:105,114``).

Unlike the reference we also retain char positions and scores (the reference
throws positions away at ``data.py:105,114``); the parity view re-applies set
semantics downstream (operator D3 in SURVEY.md §2).
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np


class Span(NamedTuple):
    class_id: int
    entity: str
    start_idx: int  # char offset, inclusive
    end_idx: int  # char offset, inclusive (reference convention)
    score: float


def build_offset_maps(
    offset_mapping: list[tuple[int, int]],
) -> tuple[dict[int, int], dict[int, int]]:
    """token index → char start / char end (inclusive); (0,0) specials skipped."""
    start_mapping = {i: j[0] for i, j in enumerate(offset_mapping) if tuple(j) != (0, 0)}
    end_mapping = {i: j[-1] - 1 for i, j in enumerate(offset_mapping) if tuple(j) != (0, 0)}
    return start_mapping, end_mapping


def decode_gp(
    text: str,
    logits: np.ndarray,  # (C, L, L), already mask+tril'ed
    offset_mapping: list[tuple[int, int]],
) -> list[Span]:
    start_mapping, end_mapping = build_offset_maps(offset_mapping)
    spans: list[Span] = []
    for class_id, start, end in zip(*np.where(logits > 0)):
        if start <= end and start in start_mapping and end in end_mapping:
            s, e = start_mapping[int(start)], end_mapping[int(end)]
            spans.append(
                Span(int(class_id), text[s : e + 1], s, e, float(logits[class_id, start, end]))
            )
    return spans


def decode_bp(
    text: str,
    logits: np.ndarray,  # (L, C, 2) raw logits
    offset_mapping: list[tuple[int, int]],
) -> list[Span]:
    start_mapping, end_mapping = build_offset_maps(offset_mapping)
    probs = 1.0 / (1.0 + np.exp(-logits))
    # start/end sigmoid cut 0.5 (reference config.py:39)
    starts = np.where(probs[:, :, 0] > 0.5)
    ends = np.where(probs[:, :, 1] > 0.5)
    spans: list[Span] = []
    for _start, class1 in zip(*starts):
        for _end, class2 in zip(*ends):
            if _start <= _end and class1 == class2:
                if _start in start_mapping and _end in end_mapping:
                    s, e = start_mapping[int(_start)], end_mapping[int(_end)]
                    spans.append(
                        Span(
                            int(class1),
                            text[s : e + 1],
                            s,
                            e,
                            float(probs[_start, class1, 0] * probs[_end, class2, 1]),
                        )
                    )
                break  # greedy first-end (fires even if mapping check failed)
    return spans


def spans_to_sets(spans: list[Span]) -> dict[int, set[str]]:
    """Reference result shape: dict class_id → set(surface form)."""
    out: dict[int, set[str]] = {}
    for sp in spans:
        out.setdefault(sp.class_id, set()).add(sp.entity)
    return out
