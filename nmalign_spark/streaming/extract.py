"""Streaming extraction: the alignment pipeline over a pages file stream.

The reference is strictly batch (SURVEY.md §2.9); this is the engine's
additional continuous-ingestion surface: new crawl files landing in a
directory (or an Iceberg table's appends) flow through the SAME narrow
``align_pages`` plan — ``mapInPandas`` is fully streaming-compatible because
the hot path is stateless per page (no shuffle, no aggregation state).

Semantics: append-mode, exactly-once per file via the checkpoint; the batch
twin (`align_pages` on the same directory) produces the identical row set,
which is what tests/test_streaming_extract.py asserts with an availableNow
drain.  At crawl scale, ``maxFilesPerTrigger`` bounds micro-batch size and
the sink partitions by (crawl_date, bucket) exactly like the batch
pipeline (plans/pipeline.py).
"""

from __future__ import annotations

from ..operators.align import align_pages

PAGES_DDL = ("url string, warc_ts timestamp, html binary, "
             "text string, lang string")


def stream_align_pages(spark, src_dir: str, normalization=None, cutoff=None,
                       try_subseg=True, max_files_per_trigger: int | None = None):
    """pages parquet file stream -> streaming alignment DataFrame.

    Stateless narrow plan (scan -> kernel), so no watermark is needed and
    append mode is exact; one output row set per input page regardless of
    micro-batching."""
    reader = spark.readStream.schema(PAGES_DDL)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return align_pages(reader.parquet(src_dir), normalization=normalization,
                       cutoff=cutoff, try_subseg=try_subseg)


DOCS_DDL = ("doc_id long, text string, lang string, source string, "
            "n_chars long")


def stream_quality_gate(spark, src_dir: str,
                        max_files_per_trigger: int | None = None):
    """Streaming at-ingest quality gate: new document files flow through
    the SAME Gopher ruleset expressions as the batch filter
    (operators/textstats.gopher_metrics) and only passing docs continue
    downstream.  Stateless narrow plan (scan -> filter), so append mode
    is exact and no watermark is needed; the batch twin keeps the
    identical id set (tests/test_streaming_extract.py)."""
    from ..operators.textstats import gopher_metrics

    reader = spark.readStream.schema(DOCS_DDL)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    docs = reader.parquet(src_dir)
    return docs.where(gopher_metrics()["pass_gopher"]) \
               .select("doc_id", "lang")


def stream_boilerplate_gate(spark, src_dir: str, blocklist_md5s: list[str],
                            max_files_per_trigger: int | None = None):
    """Streaming at-ingest boilerplate-line strip: incoming documents are
    cleaned against a COMMITTED blocklist of boilerplate line hashes (the
    corpus-level document-frequency pass — ``dedup.line_dedup`` — runs
    periodically in batch and commits the list; ingest applies it).  The
    strip is the SAME scan-side HOF expression as the batch twin
    (``dedup.boilerplate_strip_expr``): stateless, no watermark, append
    mode exact."""
    from pyspark.sql import functions as F

    from ..operators.dedup import boilerplate_strip_expr

    reader = spark.readStream.schema(DOCS_DDL)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    docs = reader.parquet(src_dir)
    bl = F.array(*[F.lit(h) for h in blocklist_md5s])
    s = boilerplate_strip_expr(F.col("text"), bl)
    return docs.select(
        "doc_id",
        s["n_lines"].alias("n_lines"),
        s["n_kept"].alias("n_kept"),
        F.md5(s["clean_text"]).alias("clean_md5"))
