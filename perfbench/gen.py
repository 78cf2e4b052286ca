"""Seeded input generator for the benchmark workloads.

Documents mirror the shape of the ``documents`` table the library's tests
and ``bench.py`` use (sf0.1): texts of 10-99 words drawn uniformly from a
30-word vocabulary, five languages.  The table itself is not read, because
the benchmark may only read files inside its own checkout; the generator
reproduces its distribution instead.  Pages are built from documents by the
library's own :func:`nmalign_spark.sources.pages.synth_page`, so the page
noise model is the production one.

The share of re-offered urls and the number of giant pages per batch have
no measured source: they are unverified guesses at a crawl's traffic.

Everything is a pure function of ``(workload, seed, n_batches)``.  Every batch is
written to parquet before any timing starts; the pipelines only ever see
those files.
"""

from __future__ import annotations

import datetime
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from nmalign_spark.sources.pages import synth_page

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)

GIANT_CHARS = 25_000      # above route_skew's 20,000-char default threshold
FILES_PER_BATCH = 8       # as a crawler delivers them; Spark packs ~1 split per core

PAGES_SCHEMA = pa.schema([("url", pa.string()),
                          ("warc_ts", pa.timestamp("us", tz="UTC")),
                          ("html", pa.binary()), ("text", pa.string()),
                          ("lang", pa.string())])


@dataclass
class Spec:
    """Sizes of one workload."""
    batch: int            # new normal pages per timed batch
    warmup: int           # normal pages in the warm-up batch
    giants: int = 0       # giant pages per timed batch
    reoffer: float = 0.0  # re-offered committed urls, as a share of ``batch``


SPECS = {
    "extract_crawl": Spec(batch=600, warmup=100, reoffer=0.15),
    "extract_giants": Spec(batch=30, warmup=10, giants=2, reoffer=0.15),
}


@dataclass
class Batch:
    """One generated batch: its parquet path and sizes."""
    path: str
    n_rows: int
    in_bytes: int


class DocSource:
    """Endless stream of seeded documents with unique doc_ids."""

    def __init__(self, rng: np.random.Generator, first_id: int):
        self.rng = rng
        self.next_id = first_id

    def text(self) -> str:
        n = int(self.rng.integers(10, 100))
        return " ".join(VOCAB[k] for k in self.rng.integers(0, len(VOCAB), n))

    def lang(self) -> str:
        return LANGS[int(self.rng.choice(len(LANGS), p=LANG_P))]

    def take_id(self) -> int:
        self.next_id += 1
        return self.next_id


def _write(rows: list, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    cols = list(zip(*rows)) if rows else [[] for _ in PAGES_SCHEMA]
    table = pa.Table.from_arrays([pa.array(c, type=f.type)
                                  for c, f in zip(cols, PAGES_SCHEMA)],
                                 schema=PAGES_SCHEMA)
    step = -(-len(rows) // FILES_PER_BATCH) or 1
    for k, lo in enumerate(range(0, max(len(rows), 1), step)):
        pq.write_table(table.slice(lo, step),
                       os.path.join(path, f"part-{k:03d}.parquet"))


def _page(doc_id: int, text: str, lang: str):
    url, ts, html, ptext, lg = synth_page(doc_id, text, lang)
    return (url, ts.replace(tzinfo=datetime.timezone.utc),
            html, ptext, lg)


def _giant_text(src: DocSource) -> str:
    """Documents concatenated until the text is ``GIANT_CHARS`` long.

    A fixed length keeps the giant's sequential assignment cost, the
    largest single cost of a batch, the same from seed to seed."""
    parts: list[str] = []
    while sum(map(len, parts)) + len(parts) < GIANT_CHARS:
        parts.append(src.text())
    return " ".join(parts)


def make_batches(workload: str, seed: int, n_batches: int, root: str):
    """-> [warm-up Batch] + ``n_batches`` timed Batches of pages under
    ``root``.

    The warm-up batch is committed to the same output as the timed ones,
    so its pages are part of the history later batches re-offer.  Only
    normal pages are re-offered, so every batch of a workload offers the
    same giant work whatever the seed.  The warm-up holds no giant: the
    pipeline runs the salted path on every batch, empty or not."""
    spec = SPECS[workload]
    rng = np.random.default_rng([seed, 1])
    src = DocSource(rng, first_id=(seed % 100_000) * 1_000_000)
    committed: list = []   # page rows of earlier batches

    def build(name: str, n_new: int, n_giants: int):
        rows = [_page(src.take_id(), src.text(), src.lang())
                for _ in range(n_new)]
        n_re = min(int(round(spec.reoffer * n_new)), len(committed))
        old = [committed[k] for k in sorted(rng.choice(len(committed), n_re,
                                                       replace=False))]
        committed.extend(rows)
        rows += [_page(src.take_id(), _giant_text(src), src.lang())
                 for _ in range(n_giants)] + old
        rows = [rows[k] for k in rng.permutation(len(rows))]
        path = os.path.join(root, name)
        _write(rows, path)
        return Batch(path, len(rows),
                     sum(len(r[2]) + len(r[3].encode()) for r in rows))

    return [build("warmup", spec.warmup, 0)] + [
        build(f"batch-{k:03d}", spec.batch, spec.giants)
        for k in range(n_batches)]
