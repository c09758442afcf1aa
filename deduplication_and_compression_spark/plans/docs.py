"""Tiered document-corpus dedup plan — the text analog of
``plans.pipeline.run_pipeline``'s detector composition.

The reference encoder applies its WHOLE detection chain to every input
(/root/reference/Test/Testbench.cpp:81-123); a captions-only corpus
should get the same treatment as the image+caption table: every
detector tier over the (doc_id, text) contract, unioned with
highest-confidence-wins priority election (pairs.union_pairs).

Scale shape is inherited tier by tier: exact is a star-shaped
pair-with-representative over a content-hash groupBy, MinHash/SimHash/
substring all go through the shared skew-aware bucket candidate
generator (value collapse, one hub join, star-over-reps), and the union is
a partial aggregation — no stage here is new physical work, only the
composition is.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..config import DedupConfig, DEFAULT_CONFIG
from ..operators.exact import exact_pairs
from ..operators.minhash_lsh import minhash_pairs
from ..operators.pairs import union_pairs
from ..operators.simhash import phash_hamming_pairs, simhash_from_text
from ..operators.substring import substring_pairs
from ..persistence import scoped_persist

DOC_TIERS = ("exact", "minhash", "simhash", "substring")


def docs_tier_pairs(
    docs: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    tiers: tuple[str, ...] = DOC_TIERS,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_docs: int | None = None,
) -> DataFrame:
    """(a, b, tier) candidate-pair union over the requested doc tiers.

    ``n_docs`` feeds the SimHash tier's size-adaptive keying scheme so
    plan build stays action-free (the caller has usually just counted
    the corpus to materialize its cache anyway); omitted, the tier
    pins the chunk4 scheme rather than running a count of its own.

    Caller owns the persist scope: the SimHash kernel output is
    scoped-persisted here (it feeds the keying explode and both verify
    joins), as are each tier's internal key/candidate tables.
    """
    unknown = set(tiers) - set(DOC_TIERS)
    if unknown:
        raise ValueError(
            f"unknown doc tiers {sorted(unknown)}; valid: {DOC_TIERS}"
        )
    if not tiers:
        raise ValueError("at least one tier required")
    tier_dfs: dict[str, DataFrame] = {}
    if "exact" in tiers:
        tier_dfs["exact"] = exact_pairs(
            docs, id_col=id_col, cols=(text_col,)
        ).select("a", "b")
    if "minhash" in tiers:
        tier_dfs["minhash"] = minhash_pairs(
            docs, cfg, id_col=id_col, text_col=text_col
        ).select("a", "b")
    if "simhash" in tiers:
        sims = scoped_persist(
            simhash_from_text(docs, id_col=id_col, text_col=text_col)
        )
        kw = (
            {"scheme": "auto", "n_rows": n_docs}
            if n_docs is not None
            else {"scheme": "chunk4"}
        )
        tier_dfs["simhash"] = phash_hamming_pairs(
            sims, cfg, id_col="id", hash_col="simhash", **kw
        ).select("a", "b")
    if "substring" in tiers:
        tier_dfs["substring"] = substring_pairs(
            docs, cfg, id_col=id_col, text_col=text_col
        ).select("a", "b")
    return union_pairs(**tier_dfs)
