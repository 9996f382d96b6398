"""Query-time tombstone mask: O(tombstones) deletes with exact semantics.

The Lucene live-docs model re-expressed for the sharded Spark index: a
takedown/GDPR delete becomes visible IMMEDIATELY by masking, not by
rewriting — the query kernels (plans/wand.py, plans/phrase.py) drop masked
docnos before scoring/emission, and the corpus statistics a masked query
must score with (N', avgdl', per-query-term df') are derived exactly:

* N' and Σdoc_len' arithmetically from the masked rows (O(tombstones));
  a full build carries the exact corpus Σdoc_len in meta, so avgdl' is
  bit-equal to a fresh build over the survivors (a segment build that
  overrides avgdl carries no Σdoc_len and reconstructs the sum from the
  rounded stored avgdl — exact to ~1 ulp);
* df' per QUERY term at query time, by counting killed postings in the
  already-pruned posting blocks of the query's terms — O(query-term
  postings), the same rows WAND phase 1 reads anyway, never an index scan;
* per-block WAND bounds recomputed from the avgdl-free (max_tf, min_dl)
  block metadata under the masked avgdl' (``max_partial`` bakes the
  build-time avgdl and would be unsound once avgdl changes); every block
  carries them (shards.read_sharded_index refuses an index without).

This makes masked queries rank- AND score-identical to a fresh build of
the surviving corpus (property-tested in tests/test_tombstones.py), while
``apply_tombstones`` (operators/merge.py) remains the amortized compactor
that eventually rewrites only the blocks containing masked docnos.

Scale posture: the mask is a driver-held sorted docno array shipped to the
kernels inside their Arrow closures — right for takedown-scale kill sets
(the default cap, 5M docnos, is ~40 MB of task closure). Larger deletes
should compact instead; :func:`build_mask` enforces the cap loudly.

Reference analog: the reference's only delete story is rebuilding its
pickle (indexer.py:109-167); this operator is what replaces that at
10^12 docs.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from searchengine_spark.operators import gates

DEFAULT_MAX_MASK = 5_000_000


@dataclass(frozen=True)
class TombstoneMask:
    """Driver-held kill set + the exact surviving corpus statistics."""

    killed: np.ndarray  # sorted int64 docnos
    n_docs: int  # surviving doc count
    avgdl: float  # surviving average doc length

    def __post_init__(self):
        object.__setattr__(
            self, "killed", np.sort(np.asarray(self.killed, dtype=np.int64))
        )


def build_mask(
    spark: SparkSession,
    index,
    tombstones: DataFrame,
    max_tombstones: int = DEFAULT_MAX_MASK,
) -> TombstoneMask:
    """``tombstones`` (any frame with a ``doc_id`` column) → a
    :class:`TombstoneMask` over ``index``.

    One broadcast semi-probe of the docs store maps doc_ids to
    (docno, doc_len) — the docs side is scan-only, nothing shuffles — and
    the collect is O(tombstones). Surviving N/avgdl derive arithmetically
    (see module doc); no block is read, decoded, or rewritten.
    """
    tomb_ids = tombstones.select("doc_id").distinct()
    # The cap applies to MATCHED tombstones (ids actually present in the
    # index) — a replayed kill log full of already-compacted ids must not
    # trip it (round-3 ADVICE). Driver safety without pre-counting matches:
    # the gate's bounded raw count only chooses the JOIN STRATEGY
    # (operators/gates.py — broadcast under the cap, pinned shuffle_hash
    # past it), and the collect itself is bounded by limit(cap + 1), so
    # the driver never holds more than cap+1 narrow (docno, doc_len) rows
    # no matter how large either side is; the cap check runs on the
    # collected length.
    probe, _ = gates.gated_build_side(tomb_ids, max_tombstones)
    rows = (
        index.docs.join(probe, "doc_id")
        .select("docno", "doc_len")
        .limit(max_tombstones + 1)
        .collect()
    )
    if len(rows) > max_tombstones:
        raise ValueError(
            f"more than {max_tombstones} tombstones present in the index "
            "exceed the mask cap: a kill set this large should be "
            "compacted (apply_tombstones), not masked — the mask ships "
            "with every kernel task"
        )
    killed = np.sort(np.fromiter((r["docno"] for r in rows), dtype=np.int64))
    killed_dl = int(sum(r["doc_len"] for r in rows))
    n2 = index.n_docs - killed.size
    if n2 <= 0:
        return TombstoneMask(killed=killed, n_docs=0, avgdl=0.0)
    if index.sum_doc_len is not None:
        avgdl2 = (index.sum_doc_len - killed_dl) / n2  # exact
    else:
        # segment build with an overridden avgdl carries no Σdoc_len:
        # reconstruct from the stored avgdl — exact up to ~1 ulp
        avgdl2 = (index.avgdl * index.n_docs - killed_dl) / n2
    return TombstoneMask(killed=killed, n_docs=n2, avgdl=float(avgdl2))
