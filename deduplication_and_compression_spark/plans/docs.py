"""Document-corpus tiers without checkpoints.

Docs mode runs through ``plans.pipeline.run_pipeline`` with the
``DOCS`` input contract (see ``main.run_docs_mode``), so it gets the
image pipeline's checkpoints, resume, concurrent tiers and metrics
table.  ``docs_tier_pairs`` is the same tier builders over an
in-memory (doc_id, text) corpus with no checkpoint directory — one
tier's pair frame, or a union of several, for measuring or probing a
tier on its own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..config import DedupConfig, DEFAULT_CONFIG
from ..operators.pairs import union_pairs
from ..persistence import scoped_persist
from .pipeline import ALL_TIERS, DOCS, check_tiers, tier_builders

DOC_TIERS = ALL_TIERS


def docs_tier_pairs(
    docs: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    tiers: tuple[str, ...] = DOC_TIERS,
    *,
    n_docs: int,
) -> DataFrame:
    """(a, b, tier) pair union over the requested tiers of a corpus of
    ``n_docs`` rows (the SimHash tier's keying needs the count).

    Caller owns the persist scope: each tier's key table and pair frame
    is scoped-persisted here, where run_pipeline would checkpoint it.
    """
    check_tiers(tiers)
    build = tier_builders(docs, cfg, DOCS, n_docs,
                          lambda _name, fn: scoped_persist(fn()))
    return union_pairs(**{t: build[t]() for t in tiers})
