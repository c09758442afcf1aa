#!/usr/bin/env python
"""Optimization-round measurement harness (guide §1) — NOT the driver
bench.  bench.py is frozen for measurement; this file exists so the
round's before/after evidence (noop-sink isolation, .explain capture)
never touches it.  Per-stage pipeline walls are in the ``metrics``
table every ``run_pipeline`` call writes under its output directory.

Modes:
  python bench_extra.py plans <outdir>   # .explain("formatted") per query
  python bench_extra.py time [names...]  # noop-sink best-of-N per query

The noop sink computes every column of every row and discards it
(guide §1.4), so these walls time the computation, not the sink or the
driver-side count() pruning.
"""

from __future__ import annotations

import json
import os
import sys
import time
from contextlib import redirect_stdout
from io import StringIO
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

from deduplication_and_compression_spark.config import DEFAULT_CONFIG as CFG
from deduplication_and_compression_spark.session import build_session
from deduplication_and_compression_spark.persistence import persist_scope

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _spark():
    spark = build_session(app_name="dedup-bench-extra", cores=CPUS,
                          shuffle_partitions=max(CPUS, 8))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _raw_builders(spark):
    """UN-memoized plan builders mirroring __spark_entry__._q_* — raw
    operator plans (the memo layer would show an InMemoryRelation)."""
    import __spark_entry__ as E
    from deduplication_and_compression_spark.operators import textops
    from deduplication_and_compression_spark.operators.minhash_lsh import (
        minhash_pairs,
    )
    from deduplication_and_compression_spark.operators.simhash import (
        phash_hamming_pairs, simhash_from_text,
    )
    from deduplication_and_compression_spark.operators.similarity import (
        cosine_neighbor_stats, ivf_pq_topk, ivf_topk, srp_bucket_topk,
    )
    from deduplication_and_compression_spark.operators.components import (
        connected_components,
    )
    from deduplication_and_compression_spark.persistence import scoped_persist

    docs = lambda: E._docs(spark, SF_DIR)
    embs = lambda: E._embs(spark, SF_DIR)

    def train_val_raw():
        # RAW twin of _q_train_val_split: the contract row routes
        # through _memo_query (by design — bench.py times that), but
        # this harness must time/plan the actual compute, so the
        # pair->CC->split chain is rebuilt without the memo layer
        from deduplication_and_compression_spark.operators.assign import (
            assignments_from_labels, leakage_safe_split,
        )

        d = docs()
        pairs = scoped_persist(
            textops.bigram_jaccard_pairs_auto(d, threshold_bp=5000))
        labels = connected_components(pairs.select("a", "b"), CFG)
        asg = assignments_from_labels(d, labels, id_col="doc_id")
        return leakage_safe_split(asg, frac_train=0.9, id_col="doc_id")

    def simhash_pairs():
        sims = scoped_persist(simhash_from_text(docs()))
        return phash_hamming_pairs(sims, CFG, id_col="id",
                                   hash_col="simhash", scheme="chunk4"
                                   ).select("a", "b", "hamming")

    return {
        "exact_dedup_docs": lambda: textops.exact_dedup_docs(docs()),
        "token_heavy_hitters_docs":
            lambda: textops.token_heavy_hitters(docs(), k=50),
        "train_val_split_docs": train_val_raw,
        "bigram_jaccard_pairs":
            lambda: textops.bigram_jaccard_pairs_auto(docs(),
                                                      threshold_bp=5000),
        "bigram_jaccard_ppjoin":
            lambda: textops.bigram_jaccard_pairs(docs(), threshold_bp=5000),
        "cc_bigram_clusters": lambda: connected_components(
            scoped_persist(textops.bigram_jaccard_pairs_auto(
                docs(), threshold_bp=5000)).select("a", "b"), CFG),
        "cosine_neighbor_stats":
            lambda: cosine_neighbor_stats(embs(), n_queries=20, threshold=0.3),
        "minhash_pairs_docs": lambda: minhash_pairs(
            docs(), CFG, id_col="doc_id", text_col="text").select("a", "b"),
        "simhash_hamming_pairs_docs": simhash_pairs,
        "srp_topk_embeddings": lambda: srp_bucket_topk(
            embs(), n_bits=E._SRP_BITS, k=E._SRP_K, dim=E._EMB_DIM,
            n_tables=E._SRP_TABLES, probe_radius=0,
        ).select("query_id", "neighbor_id", "rank"),
        "ivf_topk_embeddings": lambda: ivf_topk(
            embs(), n_cells=E._IVF_CELLS, k=E._SRP_K, dim=E._EMB_DIM,
            n_probes=E._IVF_PROBES).select("query_id", "neighbor_id", "rank"),
        "ivf_pq_topk_embeddings": lambda: ivf_pq_topk(
            embs(), n_cells=E._IVF_CELLS, k=E._SRP_K, m_sub=E._PQ_M,
            k_sub=E._PQ_KSUB, pq_seed=E._PQ_SEED, dim=E._EMB_DIM,
            n_probes=E._IVF_PROBES, refine=E._PQ_REFINE,
        ).select("query_id", "neighbor_id", "rank"),
    }


def _zipf_docs(spark):
    from deduplication_and_compression_spark.fixtures.generator import (
        write_zipf_docs,
    )

    sf = float(Path(SF_DIR).name.replace("sf", "") or 0.1)
    n_zipf = max(1000, int(round(300_000 * sf)))
    zcache = Path(
        os.environ.get("SPARK_GRAFT_BENCH_CACHE", str(REPO / ".bench_cache"))
    ) / f"zipf_{n_zipf}_seed11"
    z_path, _ = write_zipf_docs(zcache, n_zipf, seed=11)
    z = spark.read.parquet(str(z_path)).repartition(max(CPUS, 8)).cache()
    z.count()
    return z


def cmd_plans(outdir: str, names: list[str]) -> None:
    spark = _spark()
    out = Path(outdir)
    out.mkdir(parents=True, exist_ok=True)
    builders = _raw_builders(spark)
    from deduplication_and_compression_spark.operators.textops import (
        bigram_jaccard_pairs, bigram_jaccard_pairs_allpairs,
    )
    zd = None
    if not names or any(n.startswith("zipf") for n in names):
        zd = _zipf_docs(spark)
        builders["zipf_bigram_ppjoin"] = (
            lambda: bigram_jaccard_pairs(zd, threshold_bp=5000))
        builders["zipf_bigram_allpairs"] = (
            lambda: bigram_jaccard_pairs_allpairs(zd, threshold_bp=5000))
    for name, build in builders.items():
        if names and name not in names:
            continue
        with persist_scope():
            df = build()
            buf = StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
        (out / f"{name}.txt").write_text(buf.getvalue())
        print(f"wrote {out / (name + '.txt')}")
    spark.stop()


def cmd_time(names: list[str], repeats: int = 3) -> None:
    spark = _spark()
    builders = _raw_builders(spark)
    from deduplication_and_compression_spark.operators.textops import (
        bigram_jaccard_pairs, bigram_jaccard_pairs_allpairs,
    )
    if not names or any(n.startswith("zipf") for n in names):
        zd = _zipf_docs(spark)
        builders["zipf_bigram_ppjoin"] = (
            lambda: bigram_jaccard_pairs(zd, threshold_bp=5000))
        builders["zipf_bigram_allpairs"] = (
            lambda: bigram_jaccard_pairs_allpairs(zd, threshold_bp=5000))
    walls: dict[str, list[float]] = {}
    for name, build in builders.items():
        if names and name not in names:
            continue
        spark.sparkContext.setJobDescription(f"extra:{name}")
        ws = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            with persist_scope():
                build().write.format("noop").mode("overwrite").save()
            ws.append(round(time.perf_counter() - t0, 3))
        walls[name] = ws
        print(json.dumps({"query": name, "walls": ws, "best": min(ws)}),
              flush=True)
        spark.sparkContext.setJobDescription(None)
    print(json.dumps({"metric": "noop_walls", "walls": walls}))
    spark.stop()


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "time"
    if mode == "plans":
        cmd_plans(sys.argv[2], sys.argv[3:])
    elif mode == "time":
        cmd_time(sys.argv[2:])
    else:
        raise SystemExit(f"unknown mode {mode!r}")
