#!/usr/bin/env python3
"""Benchmark of the extraction pipeline as incremental ingest.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload extract_crawl --seed 1 --seconds 10 --trace 0

One client submits generated batches one after another (a closed loop) into
one growing output directory through ``ExtractionPipeline.run``.  The last
line of standard output is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``; the line before it is the full record (host, sizes,
per-batch times, check results).

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` runs the same
loop with the Spark event log on and wrappers around the pipeline's
methods, and reports per-layer metrics from those spans, the event log and
the in-process kernel replay the extraction check makes anyway.  Its own
``trace.docs_per_s`` against ``docs_per_s`` of untraced runs of the same
seed is the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
CHECKOUT = HERE.parent

END_TO_END = {"setup_s": "s", "docs_per_s": "docs/s", "batch_s_p50": "s",
              "out_bytes_per_in_byte": "ratio", "peak_rss_mb": "MB"}

_S, _N, _R, _B = "s", "count", "ratio", "bytes"
PER_LAYER = {
    "sources.segments.s": _S, "sources.segments.docs": _N,
    "kernel.myers.cdist_s": _S, "kernel.myers.cells": _N,
    "kernel.assign.self_s": _S, "kernel.assign.calls": _N,
    "kernel.assign.max_call_s": _S,
    "kernel.subseg.self_s": _S, "kernel.subseg.calls": _N,
    "kernel.subseg.split_frac": _R,
    "kernel.lev.partial_ratio_s": _S, "kernel.lev.partial_ratio_calls": _N,
    "kernel.lev.partial_ratio_long_frac": _R,
    "kernel.graph.dijkstra_s": _S, "kernel.graph.calls": _N,
    "operators.align.rows_self_s": _S, "operators.align.rows_out": _N,
    "operators.align.python_s": _S, "operators.align.arrow_sent_bytes": _B,
    "operators.align.arrow_returned_bytes": _B,
    "operators.salt.python_s": _S, "operators.salt.chunks": _N,
    "operators.salt.shuffle_write_bytes": _B,
    "plans.pipeline.resume_read_s": _S, "plans.pipeline.aligned_write_s": _S,
    "plans.pipeline.extracted_write_s": _S,
    "plans.pipeline.lineage_write_s": _S, "plans.pipeline.self_s": _S,
    "plans.pipeline.pages_skipped": _N,
    "spark.executor_run_s": _S, "spark.executor_cpu_s": _S, "spark.gc_s": _S,
    "spark.shuffle_write_bytes": _B, "spark.shuffle_read_bytes": _B,
    "spark.spill_bytes": _B, "spark.tasks": _N, "spark.jobs": _N,
    "trace.docs_per_s": "docs/s",
}

BATCH_S = 8.0   # a run times max(1, seconds // this) batches, however fast


def _env() -> None:
    """Make the library and this directory importable here and in the
    Python workers Spark starts."""
    for p in (str(HERE), str(CHECKOUT)):
        if p not in sys.path:
            sys.path.insert(0, p)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(CHECKOUT), str(HERE)]
        + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


class Loop:
    """One session: set-up, warm-up batch, then timed batches into
    ``out``.  With a tracer, spans are recorded around pipeline methods."""

    def __init__(self, work: str, out: str, tracer=None,
                 event_log: str | None = None):
        self.work, self.out = work, out
        self.tracer, self.event_log = tracer, event_log
        self.stats, self.batch_s, self.docs, self.errors = [], [], [], []
        self.window_ms = (0.0, 0.0)
        self.spark = None

    def _install(self) -> None:
        from nmalign_spark.plans.pipeline import ExtractionPipeline as cls
        tr, layer = self.tracer, "plans.pipeline"
        tr.wrap(cls, "run", f"{layer}.run")
        tr.wrap(cls, "_write",
                lambda self_, df, subdir, *a, **k: f"{layer}.write.{subdir}")
        tr.wrap(cls, "_committed_urls", f"{layer}.resume_read")

    def run(self, batches):
        """Set up, run the warm-up batch, then each later batch, timed."""
        from nmalign_spark.plans.pipeline import ExtractionPipeline
        import session
        t0 = time.perf_counter()
        spark = self.spark = session.make_spark(self.work, self.event_log)
        spark.sparkContext.setLogLevel("ERROR")
        if self.tracer:
            self._install()
        pipe = ExtractionPipeline(self.out)
        prev = self._batch(spark, pipe, batches[0], -1) or {}
        self.setup_s = time.perf_counter() - t0
        self.window_ms = (time.time() * 1e3, 0.0)
        for k, b in enumerate(batches[1:]):
            t = time.perf_counter()
            stats = self._batch(spark, pipe, b, k)
            self.batch_s.append(time.perf_counter() - t)
            self.docs.append(stats["pages_aligned"]
                             - prev.get("pages_aligned", 0) if stats else 0)
            prev = stats or prev
        self.window_ms = (self.window_ms[0], time.time() * 1e3)

    def _batch(self, spark, pipe, batch, k: int):
        if self.tracer:
            self.tracer.batch = k
        try:
            stats = pipe.run(spark, spark.read.parquet(batch.path),
                             run_id=f"b{k + 1:03d}")
        except Exception as e:  # a failed batch is counted, not fatal
            self.errors.append((k, f"{type(e).__name__}: {e}"[:300]))
            stats = None
        self.stats.append(stats)
        return stats

    @property
    def docs_per_s(self) -> float:
        return sum(self.docs) / sum(self.batch_s) if self.batch_s else 0.0


def _stop(spark) -> None:
    """Stop the session, end the Spark JVM and wait for it."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def _checks(loop, expected) -> tuple[list, dict]:
    """-> (error messages, check name -> indices of timed batches that
    failed it).  ``raised`` holds the batches whose ``run()`` raised."""
    import check
    try:
        errors, by_check = check.check_extraction(loop.out, expected)
    except Exception as e:  # e.g. no output at all: every batch failed
        errors = [f"check raised {type(e).__name__}: {e}"[:300]]
        by_check = {"check_raised": set(range(len(loop.batch_s)))}
    by_check["raised"] = {k for k, _ in loop.errors if k >= 0}
    errors = [f"batch {k}: {m}" for k, m in loop.errors] + errors
    return errors, by_check


def _layer_metrics(loop, replay_spans, counts,
                   spark_layers) -> dict[str, float]:
    import spans
    m = {name: 0.0 for name in PER_LAYER}
    tot = spans.totals(loop.tracer.spans, min_batch=0)
    for task_spans in replay_spans:
        for name, a in spans.totals(task_spans).items():
            t = tot.setdefault(name, {"total": 0, "self": 0, "calls": 0,
                                      "max": 0})
            for key in ("total", "self", "calls"):
                t[key] += a[key]
            t["max"] = max(t["max"], a["max"])

    def get(name, key):
        return tot.get(name, {}).get(key, 0.0)

    m["sources.segments.s"] = get("sources.segments", "total")
    m["sources.segments.docs"] = counts.get("sources.segments.docs", 0)
    m["kernel.myers.cdist_s"] = get("kernel.myers", "total")
    m["kernel.myers.cells"] = counts.get("kernel.myers.cells", 0)
    m["kernel.assign.self_s"] = get("kernel.assign", "self")
    m["kernel.assign.calls"] = get("kernel.assign", "calls")
    m["kernel.assign.max_call_s"] = get("kernel.assign", "max")
    m["kernel.subseg.self_s"] = get("kernel.subseg", "self")
    m["kernel.subseg.calls"] = get("kernel.subseg", "calls")
    if m["kernel.subseg.calls"]:
        m["kernel.subseg.split_frac"] = (counts.get("kernel.subseg.splits", 0)
                                         / m["kernel.subseg.calls"])
    m["kernel.lev.partial_ratio_s"] = get("kernel.lev", "total")
    m["kernel.lev.partial_ratio_calls"] = counts.get(
        "kernel.lev.partial_ratio_calls", 0)
    if m["kernel.lev.partial_ratio_calls"]:
        m["kernel.lev.partial_ratio_long_frac"] = (
            counts.get("kernel.lev.partial_ratio_long", 0)
            / m["kernel.lev.partial_ratio_calls"])
    m["kernel.graph.dijkstra_s"] = get("kernel.graph", "total")
    m["kernel.graph.calls"] = get("kernel.graph", "calls")
    m["operators.align.rows_self_s"] = get("operators.align.rows", "self")
    m["operators.align.rows_out"] = counts.get("operators.align.rows_out", 0)
    m.update(spark_layers)
    ok = [s for s in loop.stats[1:] if s]
    p = "plans.pipeline"
    m[f"{p}.resume_read_s"] = get(f"{p}.resume_read", "total")
    m[f"{p}.aligned_write_s"] = get(f"{p}.write.aligned", "total")
    m[f"{p}.extracted_write_s"] = get(f"{p}.write.extracted", "total")
    m[f"{p}.lineage_write_s"] = get(f"{p}.write._lineage", "total")
    m[f"{p}.self_s"] = get(f"{p}.run", "self")
    m[f"{p}.pages_skipped"] = sum(s["pages_skipped_resume"] for s in ok)
    m["trace.docs_per_s"] = loop.docs_per_s
    return m


def measure(workload: str, seed: int, seconds: float, traced: bool,
            work: str) -> tuple[dict, dict]:
    """-> (result line, record) for one run."""
    import check
    import eventlog
    import gen
    import session
    import spans
    from nmalign_spark.plans.pipeline import ExtractionPipeline
    spec = gen.SPECS[workload]
    # The batch count depends on ``seconds`` only, so faster code times the
    # same batches against the same committed state, not more of them.
    n_timed = max(1, int(seconds // BATCH_S))
    t0 = time.perf_counter()
    batches = gen.make_batches(workload, seed, n_timed,
                               os.path.join(work, "in"))

    tracer = spans.Tracer() if traced else None
    log = os.path.join(work, "events") if traced else None
    loop = Loop(work, os.path.join(work, "out"), tracer, log)
    try:
        with session.RssSampler() as rss:
            loop.run(batches)
        if traced:
            tracer.close()
    finally:
        if loop.spark is not None:
            _stop(loop.spark)
        session.wait_children()

    t1 = time.perf_counter()
    expected, replay_spans, counts = check.replay(
        batches, ExtractionPipeline(loop.out), session.host()["cpus"])
    t2 = time.perf_counter()
    errors, by_check = _checks(loop, expected)
    phase_s = {"generate_and_run": t1 - t0, "replay": t2 - t1,
               "check": time.perf_counter() - t2}
    failed = set().union(*by_check.values())
    attempted = len(loop.batch_s)
    in_bytes = sum(b.in_bytes for b in batches)
    if traced:
        metrics = _layer_metrics(loop, replay_spans, counts,
                                 eventlog.parse(log, *loop.window_ms))
        units = PER_LAYER
    else:
        metrics = {
            "setup_s": loop.setup_s,
            "docs_per_s": loop.docs_per_s,
            "batch_s_p50": statistics.median(loop.batch_s),
            "out_bytes_per_in_byte": _du(loop.out) / in_bytes,
            "peak_rss_mb": rss.peak / 2**20,
        }
        units = END_TO_END
    result = {"correct": not errors, "attempted": attempted,
              "failed": len(failed),
              "metrics": {k: {"value": float(metrics[k]), "unit": u}
                          for k, u in units.items()}}
    record = {"workload": workload, "seed": seed, "seconds": seconds,
              "trace": int(traced), "host": session.host(),
              "spec": vars(spec), "batch_rows": [b.n_rows for b in batches],
              "batch_s": loop.batch_s, "batch_samples": attempted,
              "docs_committed": loop.docs, "phase_s": phase_s,
              "failed_by_check": {k: len(v) for k, v in by_check.items()},
              "peak_rss_mb_by_process": {
                  k: [round(b / 2**20), n] for k, (b, n) in rss.at_peak.items()},
              "errors": errors[:20]}
    return result, record


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    _env()
    import gen  # imports the library: fails outside a checkout
    if args.workload not in gen.SPECS:
        ap.error(f"unknown workload {args.workload!r}; "
                 f"choose from {sorted(gen.SPECS)}")
    work = os.path.join(CHECKOUT, ".perfbench",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        result, record = measure(args.workload, args.seed, args.seconds,
                                 bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for e in record["errors"]:
        print(f"check failed: {e}", file=sys.stderr)
    print(json.dumps(record))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
