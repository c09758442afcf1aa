#!/usr/bin/env python3
"""Benchmark of the dedup engine: one workload per invocation on
local[4], a closed loop driven by this single client process.

    python3 perfbench/run.py --workload images_pipeline --seed 1 \
        --seconds 10 --trace 0

Run from the repository root.  Inputs are made from ``--seed`` and
cached under ``perfbench/.cache`` (generation is never timed).  With
``--trace 0`` the run measures the end-to-end metrics for ``--seconds``
seconds; with ``--trace 1`` it calls each layer on its own inside a
span and reports the per-layer metrics, writing the spans to
``perfbench/out``.  Every output is checked against the planted truth;
a failed check makes the exit code non-zero.  The last line of stdout
is the result object; lines before it that start with ``#`` describe
the run (host fingerprint, steal ticks, digests, error rate).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
import uuid  # noqa: E402
from pathlib import Path  # noqa: E402

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
ENGINE = ROOT / "deduplication_and_compression_spark"
CACHE = BENCH / ".cache"
WORK = BENCH / ".work"
SPANS = BENCH / "out"
CORES = 4
SETUP_REPEATS = 3

END_TO_END = {
    "wall_s": "s", "cpu_s": "s", "rows_per_s": "1/s", "setup_s": "s",
    "recall": "fraction",
}

STANDARD_SPANS = (
    "minhash_lsh.minhash_signatures",
    "minhash_lsh.candidate_pairs_from_buckets",
    "minhash_lsh.verify_jaccard",
    "simhash.phash_hamming_pairs",
    "simhash.simhash_from_text",
    "substring.winnow_keys",
    "substring.substring_pairs",
    "exact.exact_pairs",
    "pairs.union_pairs",
    "components.connected_components",
    "assign.assignments_from_labels",
    "assign.savings",
    "textops.bigram_jaccard_pairs_allpairs",
    "textops.bigram_jaccard_pairs",
    "ingest.build_screen_reference",
    "ingest.screen_batch_edges",
)
STANDARD_SET = {"wall_s": "s", "cpu_s": "s", "shuffle_write_mb": "MB",
                "spill_mb": "MB", "task_skew": "ratio", "rows_out": "count"}
# (metric, unit, better): derived counters, span fields and kernel rates
EXTRA_LAYER = (
    ("minhash_lsh.candidates_per_edge", "ratio", "lower"),
    ("textops.bigram_jaccard_pairs_allpairs.shuffle_records_m", "Mrecords", "lower"),
    ("components.connected_components.jobs", "count", "lower"),
    ("ingest.screen_batch_edges.jobs", "count", "lower"),
    ("hashing.minhash_signatures_batch.rows_per_s", "1/s", "higher"),
    ("hashing.simhash_batch.rows_per_s", "1/s", "higher"),
    ("hashing.jaccard_batch.pairs_per_s", "1/s", "higher"),
    ("hashing.shared_kgram_batch.pairs_per_s", "1/s", "higher"),
    ("text.winnow_fingerprints.rows_per_s", "1/s", "higher"),
    ("pipeline.run_pipeline.wall_s", "s", "lower"),
    ("pipeline.run_pipeline.cpu_s", "s", "lower"),
    ("pipeline.overlap", "ratio", "higher"),
    *((f"docs.tier_{t}.{m}", "s", "lower")
      for t in ("exact", "minhash", "simhash", "substring")
      for m in ("wall_s", "cpu_s")),
    ("main.run_docs_mode.wall_s", "s", "lower"),
    ("main.run_docs_mode.cpu_s", "s", "lower"),
    ("ingest.run_screen_once.wall_s", "s", "lower"),
    ("ingest.batch_p50_s", "s", "lower"),
    ("session.build_session.wall_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
)


def per_layer_metrics() -> list[tuple[str, str, str]]:
    out = []
    for span in STANDARD_SPANS:
        for m, unit in STANDARD_SET.items():
            out.append((f"{span}.{m}", unit, "lower"))
    return out + list(EXTRA_LAYER)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="input size preset: full (measured) or tiny (smoke test)")
    p.add_argument("--corrupt", action="store_true",
                   help="corrupt every output before checking it (smoke test of the gate)")
    return p.parse_args(argv)


def prepare_environment() -> None:
    """Make the engine importable by this process AND by the Python
    workers the JVM forks (they inherit PYTHONPATH), and keep every
    scratch file of Spark, the JVM and Python inside the benchmark's
    own directory."""
    if not (ENGINE / "__init__.py").is_file():
        sys.exit(f"perfbench: engine package not found at {ENGINE}; "
                 "run from a full checkout of the repository")
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    sys.path.insert(0, str(ROOT))


def build(trace: bool):
    from deduplication_and_compression_spark.session import build_session

    conf = {"spark.ui.showConsoleProgress": "false"}
    if trace:  # keep every stage of a span in the status store
        conf.update({"spark.ui.retainedStages": "100000",
                     "spark.ui.retainedJobs": "100000"})
    spark = build_session(app_name="perfbench", cores=CORES, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    # the session's asynchronous warm-up jobs are set-up work
    import threading
    for t in threading.enumerate():
        if t.name == "spark-graft-warmup":
            t.join()
    return spark


def stop(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python
    workers) to exit."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args) -> int:
    import probes
    import workloads as W

    wl = W.WORKLOADS.get(args.workload)
    if wl is None:
        sys.exit(f"perfbench: unknown workload {args.workload!r}; "
                 f"choose from {sorted(W.WORKLOADS)}")
    run_id = uuid.uuid4().hex[:12]
    work = WORK / run_id
    tree = probes.ProcTree()

    t = time.perf_counter()
    paths = wl.fixture(CACHE, args.seed, args.size)
    fixture_s = time.perf_counter() - t

    spark = build(bool(args.trace))
    session_s = time.perf_counter() - T_START - fixture_s

    load_s = []
    for i in range(SETUP_REPEATS):
        t = time.perf_counter()
        inputs = wl.load(spark, paths)
        load_s.append(time.perf_counter() - t)
        if i < SETUP_REPEATS - 1:
            wl.release(inputs)

    attempted = failed = 0
    recalls, digests, reasons = [], set(), []

    def count(c: "W.Check") -> None:
        nonlocal attempted, failed
        attempted += 1
        recalls.append(c.recall)
        if not c.ok:
            failed += 1
            reasons.append(c.reason)

    def checked(handle) -> "W.pd.DataFrame":
        out = wl.collect(spark, inputs, handle)
        if args.corrupt:
            out = out.iloc[: len(out) // 2]
        count(wl.check(inputs, out))
        digests.add(W.digest(out))
        return out

    def one_call(i: int):
        d = work / f"call{i}"
        t0, c0 = time.perf_counter(), tree.cpu_s()
        handle = wl.call(spark, inputs, d)
        wall, cpu = time.perf_counter() - t0, tree.cpu_s() - c0
        out = checked(handle)
        shutil.rmtree(d, ignore_errors=True)
        return wall, cpu, out

    warmup_s = 0.0
    for calls in range(wl.warm_up):
        warmup_s += one_call(calls)[0]
    calls = wl.warm_up
    setup_s = session_s + statistics.median(load_s) + warmup_s

    info = {"workload": wl.name, "seed": args.seed, "run_id": run_id,
            "host": probes.host_fingerprint(), "input_rows": inputs.rows,
            "fixture_s": fixture_s, "session_s": session_s, "load_s": load_s,
            "warmup_s": warmup_s}
    metrics: dict[str, tuple[float, str]] = {}
    steal0 = probes.steal_ticks()
    if not args.trace:
        walls, cpus = [], []
        with probes.PeakRss(tree) as peak:
            loop_t0 = time.perf_counter()
            while (calls < wl.warm_up + wl.min_calls
                   or time.perf_counter() - loop_t0 < args.seconds):
                try:
                    wall, cpu, out = one_call(calls)
                except Exception as e:  # a failed call counts, the loop goes on
                    traceback.print_exc()
                    count(W.Check(False, 0.0, f"call raised {e!r}"[:300]))
                    continue
                finally:
                    calls += 1
                walls.append(wall)
                cpus.append(cpu)
        info["steal_ticks"] = probes.steal_ticks() - steal0
        if not walls:
            sys.exit(f"perfbench: every call failed: {reasons}")
        recall = min(recalls)
        count(wl.verify_once(spark, inputs, out))
        wall = statistics.median(walls)
        # peak RSS is reported but not gated: the JVM's adaptive heap
        # sizing moves it by about 20% between identical runs
        info.update({"walls_s": walls, "cpus_s": cpus, "peak_rss_mb": peak.peak_mb})
        metrics = {
            "wall_s": (wall, "s"),
            "cpu_s": (statistics.median(cpus), "s"),
            "rows_per_s": (inputs.rows / wall, "1/s"),
            "setup_s": (setup_s, "s"),
            "recall": (recall, "fraction"),
        }
    else:
        rec = probes.SpanRecorder(spark, run_id)
        with rec.span(wl.orchestrator) as s:
            handle = wl.call(spark, inputs, work / "traced")
        s["rows_out"] = len(checked(handle))
        for c in wl.trace(spark, inputs, rec, work / "traced"):
            count(c)
        rec.extra.update(W.kernel_rates(inputs.texts))
        rec.extra["session.build_session.wall_s"] = session_s
        rec.extra["trace.overhead_s"] = rec.overhead_s
        spans = rec.by_name()
        for name, unit, _ in per_layer_metrics():
            span, _, field = name.rpartition(".")
            if name in rec.extra:
                value = rec.extra[name]
            elif span in spans and field in spans[span]:
                value = spans[span][field]
            else:
                value = 0.0  # this workload does not exercise the layer
            metrics[name] = (value, unit)
        rec.write(SPANS / f"spans_{wl.name}_seed{args.seed}_{run_id}.json")
        info["steal_ticks"] = probes.steal_ticks() - steal0
    count(W.Check(len(digests) == 1, 1.0,
                  "outputs differ between calls on the same input"))
    info["digests"] = sorted(digests)
    info["error_rate"] = failed / max(1, attempted)
    if reasons:
        info["failures"] = reasons
    stop(spark)
    shutil.rmtree(work, ignore_errors=True)

    print("# " + json.dumps(info, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if failed == 0 else 1


def main(argv=None) -> int:
    args = parse_args(argv)
    prepare_environment()
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
