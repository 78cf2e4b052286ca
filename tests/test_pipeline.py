"""End-to-end pipeline: partitioned write, resume anti-join, lineage."""

import pytest

from nmalign_spark.plans.pipeline import ExtractionPipeline
from nmalign_spark.sources.pages import pages_from_documents


@pytest.fixture()
def outdir(tmp_path):
    return str(tmp_path / "out")


def test_pipeline_run_and_resume(spark, sf_small, outdir):
    pages = pages_from_documents(spark, sf_small).limit(40).cache()
    pipe = ExtractionPipeline(outdir, n_buckets=4)
    first = pages.limit(25)
    s1 = pipe.run(spark, first, run_id="r1")
    assert s1["pages_skipped_resume"] == 0
    assert s1["pages_aligned"] == 25
    # partition layout on disk
    committed = spark.read.parquet(f"{outdir}/aligned")
    assert {"crawl_date", "bucket"}.issubset(set(committed.columns))
    assert committed.select("bucket").distinct().count() <= 4
    # resume: run over the full 40 — the 25 committed must be skipped
    s2 = pipe.run(spark, pages, run_id="r2")
    assert s2["pages_skipped_resume"] == 25
    assert s2["pages_aligned"] == 40
    # no duplicated urls after resume
    assert committed.count() == committed.dropDuplicates(["url", "i"]).count()
    # lineage has both runs
    lineage = spark.read.parquet(f"{outdir}/_lineage")
    assert {r.run_id for r in lineage.select("run_id").distinct().collect()} == {"r1", "r2"}
    assert lineage.where("n_pages <= 0").count() == 0


def test_pipeline_idempotent_when_all_committed(spark, sf_small, outdir):
    pages = pages_from_documents(spark, sf_small).limit(10).cache()
    pipe = ExtractionPipeline(outdir, n_buckets=2)
    pipe.run(spark, pages, run_id="a")
    before = spark.read.parquet(f"{outdir}/aligned").count()
    s = pipe.run(spark, pages, run_id="b")
    assert s["pages_skipped_resume"] == 10
    after = spark.read.parquet(f"{outdir}/aligned").count()
    assert before == after


def test_read_failure_is_not_first_run(spark, sf_small, tmp_path, outdir):
    """A corrupt committed file must abort the run before anything is
    appended, not skip the resume anti-join and duplicate the batch."""
    import os
    pages = pages_from_documents(spark, sf_small).limit(10).cache()
    pipe = ExtractionPipeline(outdir, n_buckets=2)
    pipe.run(spark, pages, run_id="a")
    before = spark.read.parquet(f"{outdir}/aligned").count()
    # a parquet file whose footer is garbage, in the partition schema
    # inference reads first
    part = tmp_path / "out" / "aligned" / "crawl_date=0000-01-01" / "bucket=0"
    part.mkdir(parents=True)
    corrupt = part / "part-corrupt.parquet"
    corrupt.write_bytes(b"not a parquet file")
    with pytest.raises(Exception) as exc:
        pipe.run(spark, pages, run_id="b")
    assert "PATH_NOT_FOUND" not in str(exc.value)
    os.remove(corrupt)
    assert spark.read.parquet(f"{outdir}/aligned").count() == before


def test_pipeline_salted_branch_equals_align_pages(spark, sf_small, outdir):
    """With the giant threshold at the median text length, half the pages
    take the salted branch; the committed rows must still equal
    align_pages on every page, passthrough columns included."""
    from pyspark.sql import functions as F

    from nmalign_spark.operators.align import align_pages

    pages = pages_from_documents(spark, sf_small).limit(30).cache()
    lengths = sorted(len(t) for t in pages.select("text").toPandas()["text"])
    median = lengths[len(lengths) // 2]
    assert pages.where(F.length("text") >= median).count() > 0
    pipe = ExtractionPipeline(outdir, n_buckets=2, giant_chars=median)
    pipe.run(spark, pages, run_id="r1")
    want = (align_pages(pages, normalization=pipe.normalization,
                        passthrough=("warc_ts", "lang"))
            .withColumn("crawl_date", F.to_date("warc_ts")).drop("warc_ts"))
    got = spark.read.parquet(f"{outdir}/aligned").select(*want.columns)

    def multiset(df):
        return sorted(map(repr, df.collect()))

    assert multiset(got) == multiset(want)
