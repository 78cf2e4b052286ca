"""Correctness checks on committed output, and the in-process kernel replay
that the extraction check compares against.

The replay runs the generated pages through the library's public
functions in worker processes, mirroring one ``align_pages`` Arrow batch
per task: ``extract_segments`` + ``reference_lines``, one
``cdist_levenshtein_many`` pass, then ``align_lists_rows`` per page with the
matrix injected.  Spans around those calls and the kernel functions they
reach give the ``kernel.*``, ``sources.segments`` and ``operators.align``
per-layer numbers.
"""

from __future__ import annotations

import gc
import multiprocessing.resource_tracker
import os
from collections import Counter

import pyarrow.dataset as ds
import pyarrow.parquet as pq

from spans import Span, Tracer

ARROW_BATCH = 200   # spark.sql.execution.arrow.maxRecordsPerBatch
LONG_NEEDLE = 64    # partial_ratio needles longer than this take the DP path
ALIGN_COLS = ["url", "i", "j", "line_no", "beg", "end", "score", "seg_text",
              "extracted"]


def _install(tr: Tracer) -> None:
    from nmalign_spark.kernel import assign, myers, subseg
    from nmalign_spark.operators import align

    def cells(result, args, kwargs):
        tr.count("kernel.myers.cells",
                 sum(len(q) * len(c) for q, c in args[0]))

    def split(result, args, kwargs):
        tr.count("kernel.subseg.splits", 1 if len(result) else 0)

    # needles are measured as passed, before normalization: normalizing
    # them here would bill that cost to the enclosing kernel.subseg span
    def pr_pairs(pairs):
        for a, b in pairs:
            tr.count("kernel.lev.partial_ratio_calls")
            if min(len(a), len(b)) > LONG_NEEDLE:
                tr.count("kernel.lev.partial_ratio_long")

    def pr_cdist(result, args, kwargs):
        pr_pairs((q, c) for q in args[0] for c in args[1])

    def pr_one(result, args, kwargs):
        pr_pairs([args[:2]])

    tr.wrap(myers, "myers_cdist_many", "kernel.myers", cells)
    tr.wrap(align, "match", "kernel.assign")
    tr.wrap(assign, "match_subseg", "kernel.subseg", split)
    tr.wrap(subseg, "cdist_partial_ratio", "kernel.lev", pr_cdist)
    tr.wrap(subseg, "partial_ratio_alignment", "kernel.lev", pr_one)
    tr.wrap(subseg, "dijkstra_from0", "kernel.graph")


def replay_task(task) -> tuple[list, list[Span], dict]:
    """Align one Arrow-batch-sized list of pages; -> (rows, spans, counts).

    ``task`` = (pages, normalization, cutoff, try_subseg) with pages a list
    of (url, html, text)."""
    from nmalign_spark.functions.normalize import make_preprocessor
    from nmalign_spark.kernel.lev import cdist_levenshtein_many
    from nmalign_spark.operators.align import align_lists_rows
    from nmalign_spark.sources.segments import extract_segments, reference_lines

    pages, normalization, cutoff, try_subseg = task
    preprocess = make_preprocessor(normalization)
    tr = Tracer()
    _install(tr)
    try:
        def segment(html, text):
            return (extract_segments(html),) + reference_lines(text)
        docs = [(url, *tr.call("sources.segments", segment, html, text))
                for url, html, text in pages]
        tr.count("sources.segments.docs", len(docs))
        scorable = [k for k, d in enumerate(docs) if d[1] and d[2]]
        mats = cdist_levenshtein_many([(docs[k][1], docs[k][2])
                                       for k in scorable],
                                      score_cutoff=cutoff,
                                      processor=preprocess)
        dist_of = dict(zip(scorable, mats))
        rows = []
        for k, (url, l1, l2, line_nos) in enumerate(docs):
            out = tr.call("operators.align.rows", align_lists_rows, url, l1,
                          l2, line_nos, normalization, cutoff, try_subseg,
                          dist=dist_of.get(k))
            rows.extend(out)
        tr.count("operators.align.rows_out", len(rows))
    finally:
        tr.close()
    return rows, tr.spans, tr.counts


def read_pages(path: str, giant_chars: int) -> tuple[list, list]:
    """(url, html, text) pages of one batch input, split into (normal,
    giant) the way the pipeline routes them."""
    normal, giant = [], []
    for r in pq.read_table(path, columns=["url", "html", "text"]).to_pylist():
        page = (r["url"], r["html"], r["text"])
        (giant if len(r["text"]) >= giant_chars else normal).append(page)
    return normal, giant


def _pool_map(fn, items: list, procs: int) -> list:
    """``fn`` over ``items`` in spawned worker processes, all of which, and
    the resource tracker the spawn context starts, have ended on return."""
    with multiprocessing.get_context("spawn").Pool(procs) as pool:
        out = pool.map(fn, items, chunksize=1)
        pool.close()
        pool.join()
    del pool
    gc.collect()   # run the pool's semaphore finalizers before the tracker ends
    multiprocessing.resource_tracker._resource_tracker._stop()
    return out


def replay(batches: list, pipe, procs: int):
    """Replay the first offer of every page over a spawn pool, one task
    per giant page and per Arrow batch of normal pages.

    ``batches`` are generated batches, warm-up first.  Returns
    ``(expected, spans, counts)``: expected rows per batch index (-1 for
    the warm-up), and the spans and counts of the timed batches only."""
    args = (pipe.normalization, pipe.cutoff, pipe.try_subseg)
    seen, tasks = set(), []
    for k, b in enumerate(batches, start=-1):
        normal, giant = read_pages(b.path, pipe.giant_chars)
        normal = [p for p in normal if p[0] not in seen]
        giant = [p for p in giant if p[0] not in seen]
        seen.update(p[0] for p in normal + giant)
        tasks += [(k, [g]) for g in giant]
        tasks += [(k, normal[lo:lo + ARROW_BATCH])
                  for lo in range(0, len(normal), ARROW_BATCH)]
    results = _pool_map(replay_task, [(pages,) + args for _, pages in tasks],
                        procs)
    expected: dict[int, list] = {}
    spans, counts = [], Counter()
    for (k, _), (rows, s, c) in zip(tasks, results):
        expected.setdefault(k, []).extend(rows)
        if k >= 0:
            spans.append(s)
            counts.update(c)
    return expected, spans, dict(counts)


def check_extraction(out_dir: str, expected: dict) -> tuple[list, set]:
    """Committed ``aligned`` rows must equal the replay as a multiset.

    -> (error messages, {"aligned_rows": indices of timed batches whose
    pages differ})."""
    d = ds.dataset(os.path.join(out_dir, "aligned"), format="parquet",
                   partitioning="hive")
    t = d.to_table(columns=ALIGN_COLS).to_pydict()
    got: dict[str, Counter] = {}
    for row in zip(*(t[c] for c in ALIGN_COLS)):
        got.setdefault(row[0], Counter())[row] += 1
    errors, bad = [], set()
    for k, rows in sorted(expected.items()):
        want: dict[str, Counter] = {}
        for row in rows:
            want.setdefault(row[0], Counter())[row] += 1
        diff = [u for u, c in want.items() if got.pop(u, None) != c]
        if diff:
            bad.add(k)
            errors.append(f"batch {k}: {len(diff)} pages differ from "
                          f"align_lists_rows, e.g. {diff[0]}")
    if got:
        errors.append(f"{len(got)} committed urls were never offered")
    return errors, {"aligned_rows": bad - {-1}}

