"""The core distributed operator: per-document forced fuzzy alignment.

Spark mapping of SURVEY.md §2.3 J3-J6 + §2.10 U1: the reference's
per-document ``match`` (align.py:17-166) runs *inside* an Arrow-vectorized
kernel, one document per group; everything around it is Catalyst-native.

Every entry point ends in :func:`align_lists_rows`, the one operator-level
caller of ``match``:

* :func:`align_pages` — hot path.  Input is the wide pages table (one row per
  url), so alignment is a **narrow** ``mapInPandas``: scan -> kernel -> rows,
  zero shuffles.  At 100 TB this is embarrassingly parallel; per-task cost is
  bounded by ``spark.sql.files.maxPartitionBytes``, and giant pages can be
  split off first via :func:`route_skew` (operators/salt.py).
* :func:`align_segments` — long-form input (url, side, seq_no, seg_text),
  e.g. from external segmenters, or two tables (OCR vs ground truth) as one
  side-tagged union.  Needs one shuffle on url; :func:`long_form_doc` turns a
  url's rows into the kernel's lists (shared with streaming/stateful.py).

Output schema (exploded assignment table, SURVEY.md §1.1):
``(url, i, j, line_no, beg, end, score, seg_text, extracted)`` where ``i``
indexes candidate segments, ``j`` the *filtered* reference lines (the list
the kernel saw, matching reference semantics after the empty-line filter
ocrd/cli.py:219-226), ``line_no`` the original line in ``text``, ``beg/end``
the sub-span when split (−1/−1 whole line, align.py:68-74), and ``extracted``
is ``l2[j][beg:end]`` — the byte-identical extraction target
(scripts/cli.py:103-106; ocrd/cli.py:260-263).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from ..kernel.assign import match
from ..sources.segments import extract_segments, reference_lines

__all__ = ["ALIGN_SCHEMA", "align_pages", "align_segments", "route_skew",
           "align_lists_rows", "long_form_doc"]

ALIGN_SCHEMA = ("url string, i int, j int, line_no int, beg int, end int, "
                "score double, seg_text string, extracted string")
_COLS = ["url", "i", "j", "line_no", "beg", "end", "score", "seg_text", "extracted"]


def align_lists_rows(url: str, l1: list[str], l2: list[str], line_nos: list[int],
                     normalization=None, cutoff=None, try_subseg=True,
                     dist=None) -> list[tuple]:
    """Run the kernel on one document's lists and explode to output rows.

    ``dist`` optionally injects the precomputed similarity matrix (the
    batched-across-documents scoring path, kernel/lev.py
    ``cdist_levenshtein_many``)."""
    rows: list[tuple] = []
    if not l1 or not l2:
        for i, seg in enumerate(l1):
            rows.append((url, i, -1, -1, -1, -1, 0.0, seg, None))
        return rows
    result, scores = match(l1, l2, normalization=normalization,
                           cutoff=cutoff, try_subseg=try_subseg, dist=dist)
    if try_subseg:
        idx, beg, end = result
    else:
        idx = result
        beg = end = np.full_like(idx, -1)
    for i, seg in enumerate(l1):
        j = int(idx[i])
        b, e = int(beg[i]), int(end[i])
        if j < 0:
            rows.append((url, i, -1, -1, -1, -1, 0.0, seg, None))
            continue
        line = l2[j]
        extracted = line[b:e] if b >= 0 else line
        rows.append((url, i, j, int(line_nos[j]), b, e, float(scores[i]),
                     seg, extracted))
    return rows


def _batched_doc_rows(docs, normalization, cutoff, try_subseg) -> list[list[tuple]]:
    """Align many documents: ONE flat similarity-matrix pass for the whole
    batch (north_star: "similarity-matrix stage batched across documents to
    keep executors saturated"), then the sequential assignment per document
    with its matrix injected.  ``docs`` = [(url, l1, l2, line_nos)];
    returns per-document row lists (same values as unbatched calls —
    tests/test_align_spark.py asserts equality)."""
    from ..functions.normalize import make_preprocessor
    from ..kernel.lev import cdist_levenshtein_many
    preprocess = make_preprocessor(normalization)
    scorable = [k for k, (_, l1, l2, _) in enumerate(docs) if l1 and l2]
    mats = cdist_levenshtein_many([(docs[k][1], docs[k][2]) for k in scorable],
                                  score_cutoff=cutoff, processor=preprocess)
    dist_of = dict(zip(scorable, mats))
    return [align_lists_rows(url, l1, l2, line_nos, normalization, cutoff,
                             try_subseg, dist=dist_of.get(k))
            for k, (url, l1, l2, line_nos) in enumerate(docs)]


def _make_pages_kernel(normalization, cutoff, try_subseg, passthrough=()):
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            extras = [pdf[c] for c in passthrough]
            docs = []
            for url, html_b, text in zip(pdf["url"], pdf["html"], pdf["text"]):
                l1 = extract_segments(html_b)
                l2, line_nos = reference_lines(text)
                docs.append((url, l1, l2, line_nos))
            per_doc = _batched_doc_rows(docs, normalization, cutoff, try_subseg)
            rows: list[tuple] = []
            for k, page_rows in enumerate(per_doc):
                if passthrough:
                    tail = tuple(col.iloc[k] for col in extras)
                    page_rows = [r + tail for r in page_rows]
                rows.extend(page_rows)
            yield pd.DataFrame(rows, columns=_COLS + list(passthrough))
    return kernel


def schema_with(ddl: str, df, passthrough) -> str:
    """``ddl`` extended by ``df``'s ``passthrough`` columns and their types."""
    return ", ".join([ddl] + [f"{c} {df.schema[c].dataType.simpleString()}"
                              for c in passthrough])


def align_pages(pages_df, normalization=None, cutoff=None, try_subseg=True,
                passthrough=()):
    """pages (url, warc_ts, html, text, lang) -> alignment table.

    Narrow plan: the projection to (url, html, text) is pushed into the scan
    (column pruning), the kernel is one ``mapInPandas``, no shuffle.

    ``passthrough`` names extra pages columns copied onto every output row
    (e.g. warc_ts/lang for partitioned writes) — carrying them through the
    kernel costs nothing and avoids a full-table join-back shuffle later.
    """
    passthrough = tuple(passthrough)
    return pages_df.select("url", "html", "text", *passthrough).mapInPandas(
        _make_pages_kernel(normalization, cutoff, try_subseg, passthrough),
        schema=schema_with(ALIGN_SCHEMA, pages_df, passthrough))


def long_form_doc(sides, seq_nos, texts):
    """One url's long-form rows -> (l1, l2, line_nos).

    Rows are taken in (side, seq_no) order; a null text reads as "".  Side 2
    goes through the empty-line filter with index bookkeeping
    (ocrd/cli.py:219-226); other side values are ignored."""
    l1, l2, line_nos = [], [], []
    for side, no, text in sorted(zip(sides, seq_nos, texts),
                                 key=lambda r: r[:2]):
        text = "" if text is None else text
        if side == 1:
            l1.append(text)
        elif side == 2 and text.strip():
            l2.append(text)
            line_nos.append(no)
    return l1, l2, line_nos


def _make_segments_stream_kernel(normalization, cutoff, try_subseg):
    """Streaming many-groups-per-batch kernel.

    ``applyInPandas`` pays ~ms-level per-group overhead (one pandas frame +
    one Arrow slice per group) — ruinous for millions of small documents.
    Instead the partition arrives hash-partitioned by url and sorted
    (url, side, seq_no); this kernel walks the Arrow batches, holds back the
    possibly-incomplete trailing url of each batch, and processes complete
    groups with a plain pandas groupby — one Python call per BATCH, not per
    document."""
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pending: pd.DataFrame | None = None

        def process(chunk: pd.DataFrame) -> pd.DataFrame:
            docs = [(url, *long_form_doc(g["side"].tolist(),
                                         g["seq_no"].tolist(),
                                         g["seg_text"].tolist()))
                    for url, g in chunk.groupby("url", sort=False)]
            per_doc = _batched_doc_rows(docs, normalization, cutoff,
                                        try_subseg)
            rows = [r for page_rows in per_doc for r in page_rows]
            return pd.DataFrame(rows, columns=_COLS)

        for pdf in batches:
            if pending is not None:
                pdf = pd.concat([pending, pdf], ignore_index=True)
            last_url = pdf["url"].iloc[-1] if len(pdf) else None
            mask = pdf["url"] == last_url
            pending = pdf[mask]
            done = pdf[~mask]
            if len(done):
                yield process(done)
        if pending is not None and len(pending):
            yield process(pending)
    return kernel


def align_segments(segments_df, normalization=None, cutoff=None,
                   try_subseg=True):
    """Long-form segments (url, side, seq_no, seg_text) -> alignment table.

    One hash shuffle on url + in-partition sort; the kernel is a streaming
    ``mapInPandas`` that handles many documents per Arrow batch (see
    ``_make_segments_stream_kernel`` — grouped-map per-group overhead does
    not scale to millions of small groups).

    The partition count is pinned (``repartition(n, "url")``) instead of
    letting AQE pick: AQE coalesces shuffle partitions by BYTES, and segment
    rows are tiny while the per-row kernel cost is huge — measured on sf0.1,
    AQE folded the whole corpus into one partition and serialized the entire
    alignment onto one core (16.7 s vs 1.5 s).  Compute-bound Python stages
    must size partitions by CPU, not bytes.

    Two separate tables (OCR vs ground truth) align as one side-tagged
    union, e.g. ``cand.withColumn("side", F.lit(1)).unionByName(refs...)``.
    """
    n = segments_df.sparkSession.sparkContext.defaultParallelism * 4
    parts = segments_df.repartition(n, "url") \
        .sortWithinPartitions("url", "side", "seq_no")
    return parts.mapInPandas(
        _make_segments_stream_kernel(normalization, cutoff, try_subseg),
        schema=ALIGN_SCHEMA)


def route_skew(pages_df, giant_chars: int = 20_000):
    """Split pages into (normal, giant) DataFrames by kernel-cost proxy.

    The alignment kernel is O(N·M·L) per url (SURVEY.md §4 custom-work #1):
    one giant page can dominate a task.  Cost proxy = length(text) (N·M grows
    quadratically with it, so a char threshold is a stable cost threshold).
    Callers union the two aligned outputs; the giant branch is spread over
    tasks by the salted path's own chunk shuffle (operators/salt.py).
    """
    cost = F.length(F.col("text"))
    return (pages_df.where(cost < giant_chars),
            pages_df.where(cost >= giant_chars))
