"""Join-strategy gate: ONE tested contract for every "small build side"
join in the engine (round-4 verdict #7 — the pattern existed as hand-rolled
copies in tombstones.build_mask and decontaminate_against, and a third copy
was how the next one would get written subtly wrong).

The contract
------------
A frame that is *usually* tiny (a kill set, an eval-suite gram set) joins
against a corpus-scale frame. Broadcasting it is the right plan — until a
mis-sized call (a replayed kill log, a benchmark frame that is actually a
corpus) makes the broadcast a driver/executor OOM. The gate:

1. Bounds the size check: ``limit(ceiling + 1).count()`` — map-only, no
   aggregation, early-exits after ceiling+1 rows, so the check itself can
   never be the OOM. The raw count is an UPPER bound on the distinct
   count, so a deduplicating caller may land on the shuffle arm
   conservatively — an extra keyed shuffle, never a failure.
2. Under the ceiling → ``F.broadcast(frame)``.
3. Past the ceiling → the keyed strategy is PINNED with
   ``hint("shuffle_hash")``. Withholding the broadcast hint alone is NOT
   enough: Catalyst can still auto-broadcast a frame whose sizeInBytes it
   underestimates (both original sites learned this independently).

The one gate with a different oversized arm — WandSearchEngine's
phase-2 join gate (plans/wand.py), whose past-ceiling strategy is the direct
pyarrow row-group probe rather than a shuffle join, and whose bound is
arithmetic (k·groups·|batch|), not a count job — intentionally does NOT
route through this helper; its docstring cross-references this contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def gated_build_side(
    frame: DataFrame, ceiling: int, count_frame: DataFrame | None = None
) -> tuple[DataFrame, bool]:
    """Return ``(gated_frame, oversized)``: the frame wrapped for use as
    the build side of a join — broadcast when a bounded count stays within
    ``ceiling``, pinned ``shuffle_hash`` otherwise (see module doc for why
    pinning, not merely withholding the hint, is required).

    ``count_frame`` (default: ``frame``) is what the bounded count runs
    on — pass the RAW precursor when ``frame`` itself embeds an
    aggregation (e.g. a ``distinct()``) that must run exactly once inside
    the join plan, not again in the size check; the raw count is an upper
    bound on the gated frame's size, so the gate stays conservative."""
    src = frame if count_frame is None else count_frame
    oversized = src.limit(ceiling + 1).count() > ceiling
    gated = (
        frame.hint("shuffle_hash") if oversized else F.broadcast(frame)
    )
    return gated, oversized
