"""The benchmark's workloads.

Each workload makes its inputs from a seed (cached on disk, never
timed), loads and caches them, runs one closed-loop call of the
engine's public entry point, collects the output to this process and
checks it against the planted truth.  ``trace`` calls the layers one
at a time, each inside a span, with its inputs already materialised.

Two workloads are measured end to end.  Their traced runs also cover
the layers of two entry points that are traced only: docs mode
(``main.run_docs_mode``, ``plans.docs``, ``simhash_from_text``) on a
small Zipf corpus, and the streaming screen (``streaming.ingest``) on a
split of the image fixture.
"""

from __future__ import annotations

import argparse
import hashlib
import statistics
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pandas as pd

from deduplication_and_compression_spark.config import DEFAULT_CONFIG as CFG
from deduplication_and_compression_spark.fixtures.generator import (
    write_fixture, write_zipf_docs,
)
from deduplication_and_compression_spark.functions import hashing as H
from deduplication_and_compression_spark.functions.text import winnow_fingerprints
from deduplication_and_compression_spark.persistence import persist_scope
from deduplication_and_compression_spark.plans.docs import DOC_TIERS


def digest(frame: pd.DataFrame) -> str:
    """Order-independent digest of an output: sha256 over its sorted rows."""
    rows = sorted("\x1f".join(map(str, r)) for r in frame.itertuples(index=False))
    return hashlib.sha256("\x1e".join(rows).encode()).hexdigest()[:16]


@dataclass
class Check:
    ok: bool
    recall: float
    reason: str = ""


@dataclass
class Inputs:
    rows: int                      # input rows, the rows_per_s numerator
    truth: pd.DataFrame            # planted pairs (a, b)
    frames: dict = field(default_factory=dict)
    paths: dict = field(default_factory=dict)
    texts: list = field(default_factory=list)  # kernel inputs


def cluster_check(asg: pd.DataFrame, truth: pd.DataFrame, id_col: str,
                  ids, min_recall: float) -> Check:
    """Every input id is assigned exactly once, and the share of
    planted pairs whose two ends share a cluster reaches ``min_recall``."""
    if len(asg) != len(ids) or set(asg[id_col]) != set(ids):
        return Check(False, 0.0, "assignments do not cover every input row once")
    label = dict(zip(asg[id_col], asg["cluster_id"]))
    hits = sum(label[a] == label[b] for a, b in zip(truth["a"], truth["b"]))
    recall = hits / max(1, len(truth))
    if recall < min_recall:
        return Check(False, recall, f"recall {recall:.4f} < {min_recall}")
    return Check(True, recall)


def pair_check(edges: pd.DataFrame, planted: pd.DataFrame, a: str, b: str) -> Check:
    """Every planted pair appears as an edge, and no edge appears twice."""
    got = list(zip(edges[a], edges[b]))
    if len(got) != len(set(got)):
        return Check(False, 0.0, "an edge is emitted more than once")
    got_set = set(got)
    want = list(zip(planted["a"], planted["b"]))
    recall = sum(p in got_set for p in want) / max(1, len(want))
    if recall < 1.0:
        return Check(False, recall, f"planted recall {recall:.4f} < 1.0")
    return Check(True, recall)


def _materialize(make):
    """Build the frame ``make()`` returns and run it once, pinning the
    result so the next span reads it instead of recomputing it.  Like a
    pipeline stage, the build runs in a persist scope, so the
    operator's own cached intermediates are released afterwards."""
    with persist_scope():
        return make().localCheckpoint(eager=True)


def _span_df(rec, name: str, make):
    with rec.span(name) as s:
        out = _materialize(make)
        s["rows_out"] = out.count()
    return out


def _cached(spark, path: Path, parts: int = 8):
    df = spark.read.parquet(str(path)).repartition(parts).cache()
    df.count()
    return df


class Workload:
    """One benchmark workload.  ``sizes`` maps a size preset to the
    input size; ``full`` is measured and ``tiny`` is the smoke test's."""

    name = ""
    sizes: dict[str, int] = {}
    warm_up = 0            # calls made in set-up, before the timed loop
    min_calls = 1          # timed calls made even when --seconds has run out
    orchestrator = ""      # span name of the end-to-end call

    def fixture(self, cache: Path, seed: int, size: str) -> dict[str, Path]:
        raise NotImplementedError

    def load(self, spark, paths: dict[str, Path]) -> Inputs:
        raise NotImplementedError

    def release(self, inputs: Inputs) -> None:
        for df in inputs.frames.values():
            df.unpersist()

    def call(self, spark, inputs: Inputs, work: Path):
        """The timed end-to-end call; returns a handle for ``collect``."""
        raise NotImplementedError

    def collect(self, spark, inputs: Inputs, handle) -> pd.DataFrame:
        raise NotImplementedError

    def check(self, inputs: Inputs, out: pd.DataFrame) -> Check:
        raise NotImplementedError

    def verify_once(self, spark, inputs: Inputs, out: pd.DataFrame) -> Check:
        """An untimed check made once per invocation."""
        return Check(True, 1.0)

    def trace(self, spark, inputs: Inputs, rec, work: Path) -> list[Check]:
        """Layer spans after the traced end-to-end call; returns the
        checks made on the outputs of traced-only entry points."""
        raise NotImplementedError


def tier_chain(rec, df, n_rows: int) -> None:
    """The image pipeline's stages called one at a time, in
    ``run_pipeline``'s order: the four detector tiers, their union,
    connected components, assignments and savings."""
    from deduplication_and_compression_spark.operators.assign import (
        assignments_from_labels, payload_bytes, savings,
    )
    from deduplication_and_compression_spark.operators.components import (
        connected_components,
    )
    from deduplication_and_compression_spark.operators.exact import exact_pairs
    from deduplication_and_compression_spark.operators.minhash_lsh import (
        band_keys, candidate_pairs_from_buckets, estimate_filter,
        minhash_signatures, verify_jaccard,
    )
    from deduplication_and_compression_spark.operators.pairs import union_pairs
    from deduplication_and_compression_spark.operators.simhash import (
        phash_hamming_pairs,
    )
    from deduplication_and_compression_spark.operators.substring import (
        substring_pairs, winnow_keys,
    )

    def ab(d):
        return d.select("a", "b")

    tiers = {"exact": _span_df(rec, "exact.exact_pairs", lambda: exact_pairs(df))}
    sigs = _span_df(rec, "minhash_lsh.minhash_signatures",
                    lambda: minhash_signatures(df, CFG))
    buckets = _materialize(lambda: band_keys(sigs, CFG))
    cands = _span_df(rec, "minhash_lsh.candidate_pairs_from_buckets",
                     lambda: candidate_pairs_from_buckets(buckets, CFG, val_col="_vhash"))
    kept = _materialize(lambda: estimate_filter(cands, sigs, CFG))
    tiers["minhash"] = _span_df(rec, "minhash_lsh.verify_jaccard",
                                lambda: ab(verify_jaccard(kept, df, CFG)))
    spans = rec.by_name()
    rec.extra["minhash_lsh.candidates_per_edge"] = (
        spans["minhash_lsh.candidate_pairs_from_buckets"]["rows_out"]
        / max(1, spans["minhash_lsh.verify_jaccard"]["rows_out"]))
    tiers["simhash"] = _span_df(rec, "simhash.phash_hamming_pairs",
                                lambda: ab(phash_hamming_pairs(df, CFG, n_rows=n_rows)))
    keys = _span_df(rec, "substring.winnow_keys", lambda: winnow_keys(df, CFG))
    tiers["substring"] = _span_df(rec, "substring.substring_pairs",
                                  lambda: ab(substring_pairs(df, CFG, keys=keys)))
    pairs = _span_df(rec, "pairs.union_pairs", lambda: union_pairs(**tiers))
    labels = _span_df(rec, "components.connected_components",
                      lambda: connected_components(ab(pairs), CFG))
    asg = _span_df(rec, "assign.assignments_from_labels",
                   lambda: assignments_from_labels(df, labels))
    pay = _materialize(lambda: payload_bytes(df))
    _span_df(rec, "assign.savings", lambda: savings(asg, pay))


def write_screen_split(cache: Path, images: Path, truth: Path, key: str,
                       batches: int) -> dict[str, Path]:
    """Split an image fixture into a caption reference (even rows) and
    ``batches`` arriving parquet files (odd rows), so planted clusters
    straddle the two, and record the planted (stream id, reference id)
    edges the screen must emit.  Idempotent, like the engine's fixture
    writers."""
    base = cache / f"screen_{key}_b{batches}"
    paths = {"stream": base / "stream", "reference": base / "reference.parquet",
             "planted": base / "planted.parquet"}
    if paths["planted"].exists():
        return paths
    rows = pd.read_parquet(images)
    ref, arriving = rows.iloc[0::2], rows.iloc[1::2]
    paths["stream"].mkdir(parents=True, exist_ok=True)
    for i, part in enumerate(np.array_split(arriving, batches)):
        part.to_parquet(paths["stream"] / f"drop{i:04d}.parquet", index=False)
    ref[["image_id", "caption"]].to_parquet(paths["reference"], index=False)
    planted_edges(rows, pd.read_parquet(truth), set(ref["image_id"])) \
        .to_parquet(paths["planted"], index=False)
    return paths


def planted_edges(rows: pd.DataFrame, truth: pd.DataFrame, ref_ids: set) -> pd.DataFrame:
    """Planted (stream id, reference id) pairs whose caption Jaccard
    makes a band collision all but certain: the probability
    ``(1-J^r)^b`` that LSH misses such a pair is below 1e-6."""
    cap = dict(zip(rows["image_id"], rows["caption"]))
    j_min = (1 - 1e-6 ** (1 / CFG.lsh_bands)) ** (1 / CFG.lsh_rows)
    edges = {(b, a) if a in ref_ids else (a, b)
             for a, b in zip(truth["a"], truth["b"])
             if (a in ref_ids) != (b in ref_ids)}
    e = pd.DataFrame(sorted(edges), columns=["a", "b"])
    j = H.jaccard_batch([cap[s] for s in e["a"]], [cap[r] for r in e["b"]],
                        CFG.shingle_k)
    return e[j >= max(j_min, CFG.jaccard_threshold)].reset_index(drop=True)


def trace_screen(spark, rec, paths: dict[str, Path], work: Path) -> Check:
    """streaming.ingest: the static reference build, the per-batch plan
    on each arriving file, then the whole foreachBatch drain with one
    file per micro-batch, whose output is checked for exactly-once
    planted edges."""
    from probes import BatchListener

    from deduplication_and_compression_spark.streaming.ingest import (
        build_screen_reference, run_screen_once, screen_batch_edges,
    )

    ref = _cached(spark, paths["reference"])
    files = sorted(paths["stream"].glob("*.parquet"))
    with rec.span("ingest.build_screen_reference") as s:
        ref_side = build_screen_reference(ref, CFG)
        ref_side.base.persist()
        s["rows_out"] = ref_side.base.count()
    with rec.span("ingest.screen_batch_edges") as s:
        s["rows_out"] = 0
        for f in files:
            with persist_scope():
                s["rows_out"] += screen_batch_edges(
                    spark.read.parquet(str(f)), ref_side, CFG).count()
    ref_side.base.unpersist()

    listener = BatchListener(spark)
    out = work / "screen_out"
    with rec.span("ingest.run_screen_once"):
        run_screen_once(spark, str(paths["stream"]), ref, str(out),
                        str(work / "screen_chk"), CFG, max_files_per_trigger=1)
    listener.wait_for(len(files))
    listener.remove()
    rec.extra["ingest.batch_p50_s"] = statistics.median(listener.durations)
    ref.unpersist()
    edges = spark.read.parquet(str(out)).select("id", "ref_id").toPandas()
    return pair_check(edges, pd.read_parquet(paths["planted"]), "id", "ref_id")


def trace_docs_mode(spark, rec, docs: Path, truth: Path, work: Path) -> Check:
    """Docs mode: the CLI's ``run_docs_mode`` end to end (its output is
    checked), each ``plans.docs`` tier on its own, and the text SimHash
    operator."""
    import main

    from deduplication_and_compression_spark.operators.simhash import simhash_from_text
    from deduplication_and_compression_spark.plans.docs import docs_tier_pairs
    from deduplication_and_compression_spark.sources.tables import (
        normalize_parallelism, read_documents,
    )

    args = argparse.Namespace(
        input=str(docs), output=str(work / "docs"), format="parquet",
        tiers=",".join(DOC_TIERS), rep_policy="first", emit_split=None)
    with rec.span("main.run_docs_mode"):
        main.run_docs_mode(spark, args)
    asg = spark.read.parquet(str(work / "docs" / "assignments")).toPandas()
    frame = normalize_parallelism(read_documents(spark, str(docs))).cache()
    n = frame.count()
    for tier in DOC_TIERS:
        _span_df(rec, f"docs.tier_{tier}",
                 lambda: docs_tier_pairs(frame, CFG, tiers=(tier,), n_docs=n))
    _span_df(rec, "simhash.simhash_from_text", lambda: simhash_from_text(frame))
    frame.unpersist()
    ids = pd.read_parquet(docs, columns=["doc_id"])["doc_id"]
    return cluster_check(asg, pd.read_parquet(truth), "doc_id", ids, 0.99)


class ImagesPipeline(Workload):
    """``run_pipeline`` over the synthesised image+caption table."""

    name = "images_pipeline"
    sizes = {"full": 1000, "tiny": 300}
    screen_batches = 4
    # time the cold first call and one warm call: their mean spreads
    # less between runs than either call alone
    min_calls = 2
    orchestrator = "pipeline.run_pipeline"

    def fixture(self, cache, seed, size):
        n = self.sizes[size]
        img, tp = write_fixture(cache / f"images_{n}_s{seed}", n, seed=seed)
        return {"images": img, "truth": tp,
                **write_screen_split(cache, img, tp, f"{n}_s{seed}",
                                     self.screen_batches)}

    def load(self, spark, paths):
        images = _cached(spark, paths["images"])
        rows = pd.read_parquet(paths["images"], columns=["image_id", "caption"])
        return Inputs(len(rows), pd.read_parquet(paths["truth"]), {"images": images},
                      {**paths, "ids": rows["image_id"]}, rows["caption"].tolist())

    def call(self, spark, inputs, work):
        from deduplication_and_compression_spark.plans.pipeline import run_pipeline

        return run_pipeline(spark, inputs.frames["images"], work / "pipeline",
                            CFG, resume=False)

    def collect(self, spark, inputs, handle):
        return handle.assignments.select(
            "image_id", "cluster_id", "is_duplicate").toPandas()

    def check(self, inputs, out):
        return cluster_check(out, inputs.truth, "image_id", inputs.paths["ids"], 0.99)

    def trace(self, spark, inputs, rec, work):
        tier_chain(rec, inputs.frames["images"], inputs.rows)
        chain = [s for s in rec.spans if s["parent"] is None
                 and s["name"] != self.orchestrator]
        rec.extra["pipeline.overlap"] = (
            sum(s["wall_s"] for s in chain) / rec.by_name()[self.orchestrator]["wall_s"])
        return [trace_screen(spark, rec, inputs.paths, work)]


class DocsJaccard(Workload):
    """Exact bigram-Jaccard allpairs over a Zipf corpus: Catalyst
    shuffle and hash aggregation, no Python UDF."""

    name = "docs_jaccard"
    sizes = {"full": 3000, "tiny": 400}
    docs_mode_sizes = {"full": 500, "tiny": 200}
    warm_up = 1
    orchestrator = "textops.bigram_jaccard_pairs_allpairs"

    def fixture(self, cache, seed, size):
        n, m = self.sizes[size], self.docs_mode_sizes[size]
        d, t = write_zipf_docs(cache / f"zipf_{n}_s{seed}", n, seed=seed)
        ds, ts = write_zipf_docs(cache / f"zipf_{m}_s{seed}", m, seed=seed)
        return {"docs": d, "truth": t, "docs_mode": ds, "docs_mode_truth": ts}

    def load(self, spark, paths):
        docs = _cached(spark, paths["docs"])
        texts = pd.read_parquet(paths["docs"], columns=["text"])["text"].tolist()
        return Inputs(len(texts), pd.read_parquet(paths["truth"]), {"docs": docs},
                      paths, texts)

    def call(self, spark, inputs, work):
        from deduplication_and_compression_spark.operators.textops import (
            bigram_jaccard_pairs_allpairs,
        )

        return bigram_jaccard_pairs_allpairs(inputs.frames["docs"]).toPandas()

    def collect(self, spark, inputs, handle):
        return handle

    def check(self, inputs, out):
        return pair_check(out, inputs.truth, "a", "b")

    def verify_once(self, spark, inputs, out):
        from deduplication_and_compression_spark.operators.textops import (
            bigram_jaccard_pairs,
        )

        pp = bigram_jaccard_pairs(inputs.frames["docs"]).toPandas()
        cols = ["a", "b", "jaccard_bp"]
        if digest(pp[cols]) != digest(out[cols]):
            return Check(False, 0.0, "the PPJoin and allpairs pair sets differ")
        return Check(True, 1.0)

    def trace(self, spark, inputs, rec, work):
        from deduplication_and_compression_spark.operators.textops import (
            bigram_jaccard_pairs,
        )

        docs = inputs.frames["docs"]
        _span_df(rec, "textops.bigram_jaccard_pairs", lambda: bigram_jaccard_pairs(docs))
        rec.extra[f"{self.orchestrator}.shuffle_records_m"] = (
            rec.by_name()[self.orchestrator]["shuffle_write_records"] / 1e6)
        return [trace_docs_mode(spark, rec, inputs.paths["docs_mode"],
                                inputs.paths["docs_mode_truth"], work)]


WORKLOADS = {w.name: w for w in (ImagesPipeline(), DocsJaccard())}


def kernel_rates(texts: list[str], min_s: float = 0.3) -> dict[str, float]:
    """Rows (or pairs) per second of the numpy kernels on the
    workload's own texts, with no Spark involved.  A pair is a text and
    its neighbour in the input."""
    import time

    seeds = H.make_seeds(CFG.num_perm, CFG.minhash_seed)
    a, b = texts[:-1], texts[1:]
    kernels = {
        "hashing.minhash_signatures_batch.rows_per_s":
            (len(texts), lambda: H.minhash_signatures_batch(texts, CFG.shingle_k, seeds)),
        "hashing.simhash_batch.rows_per_s": (len(texts), lambda: H.simhash_batch(texts)),
        "hashing.jaccard_batch.pairs_per_s":
            (len(a), lambda: H.jaccard_batch(a, b, CFG.shingle_k)),
        "hashing.shared_kgram_batch.pairs_per_s":
            (len(a), lambda: H.shared_kgram_batch(a, b, CFG.min_substring_len)),
        "text.winnow_fingerprints.rows_per_s":
            (len(texts), lambda: [winnow_fingerprints(t, CFG.min_substring_len)
                                  for t in texts]),
    }
    out = {}
    for name, (n, fn) in kernels.items():
        reps, t0 = 0, time.perf_counter()
        while True:
            fn()
            reps += 1
            dt = time.perf_counter() - t0
            if dt >= min_s:
                break
        out[name] = n * reps / dt
    return out
