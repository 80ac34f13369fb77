"""Shared persist registry — the operators' caching contract.

Several operators persist an intermediate that feeds two downstream branches
(the shingle table in dedup, the first-mention table in triples, the edge set
in PageRank). Before round 3 each called ``DataFrame.persist()`` ad hoc and
never unpersisted, so a long-lived session running many queries accumulated
cached blocks (bench.py worked around it with ``clearCache``; notebooks and
the pipeline got silent memory pressure).

Contract:

- operators persist through :func:`cached`, which uses MEMORY_AND_DISK (so an
  oversized intermediate degrades to disk instead of evicting its siblings or
  OOMing the executor) and records the frame in a module-level registry;
- callers that are done with every outstanding operator result call
  :func:`release_all` (bench.py does, between timed queries; tests do in
  fixtures). ``release_all`` is safe at any time — Spark recomputes an
  unpersisted frame from lineage if it is used again.

The same module owns the broadcast ceiling of forced hints:
:func:`fits_broadcast` tells a caller that already holds a dim's row count
whether the dim may carry one. Its one caller is MinHash, whose digest dim
is the output of a join, so the planner's static size estimate would never
broadcast it. Every other data-dependent dim is joined plain and left to
``autoBroadcastJoinThreshold``, which broadcasts from the dim's real size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

# the one ceiling on forced broadcast hints of data-dependent dims: short
# rows, so ~1M rows ≈ tens of MB. Forced hints override
# autoBroadcastJoinThreshold and OOM at crawl scale instead of degrading.
BROADCAST_ROWS_MAX = 1_000_000

_LIVE: list[DataFrame] = []


def cached(df: DataFrame) -> DataFrame:
    """Persist ``df`` (MEMORY_AND_DISK) and register it for release."""
    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    _LIVE.append(out)
    return out


def fits_broadcast(rows: int) -> bool:
    """Whether a dim of ``rows`` rows may carry a forced broadcast hint."""
    return rows <= BROADCAST_ROWS_MAX


def release_all() -> int:
    """Unpersist every registered frame (BLOCKING). Returns the count.

    Blocking matters: an async unpersist returns immediately and the block
    manager frees the (potentially hundreds of MB of) cached batches WHILE
    the caller's next query runs — measured as a 25-40% inflation of
    whichever cache-heavy query follows. Completing the release before
    returning charges cleanup to the releaser, not the next workload."""
    n = len(_LIVE)
    while _LIVE:
        try:
            _LIVE.pop().unpersist(blocking=True)
        except Exception:
            pass  # session already stopped — nothing to release
    return n
