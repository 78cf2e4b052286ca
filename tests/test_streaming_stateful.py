"""Custom stateful streaming alignment: state must carry a url's side-1
rows across micro-batches, and the flushed output must equal the batch
align_segments on the union of all rows."""

import pandas as pd
import pytest

from nmalign_spark.operators.align import align_segments
from nmalign_spark.streaming.stateful import stream_align_segments_stateful

URLS = ["u1", "u2"]
SIDE1 = {
    "u1": ["Waſ iſt Aufklaerung", "Der Auſgang des Menſchen"],
    "u2": ["erſte Zeile", "zwcite Zeile"],
}
SIDE2 = {
    "u1": ["Was ist Aufklaerung", "Der Ausgang des Menschen"],
    "u2": ["erste Zeile", "zweite Zeile"],
}
NORM = {"ſ": "s"}
# a null side-1 text: both paths read it as "" (one long-form helper)
NULL_ROW = ("u2", 1, len(SIDE1["u2"]), None)


@pytest.fixture(scope="module")
def split_src(tmp_path_factory):
    """Two files: side-1 rows in file A, side-2 rows + flush markers in
    file B — with maxFilesPerTrigger=1 they land in different
    micro-batches, so correctness requires cross-batch state."""
    d = tmp_path_factory.mktemp("seg_stream")
    from pyspark.sql import SparkSession
    spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    schema = "url string, side int, seq_no int, seg_text string"
    a = [(u, 1, i, s) for u in URLS for i, s in enumerate(SIDE1[u])]
    a.append(NULL_ROW)
    b = [(u, 2, i, s) for u in URLS for i, s in enumerate(SIDE2[u])]
    b += [(u, 0, -1, None) for u in URLS]       # flush markers
    spark.createDataFrame(a, schema).coalesce(1) \
        .write.parquet(str(d / "batch=a"))
    spark.createDataFrame(b, schema).coalesce(1) \
        .write.parquet(str(d / "batch=b"))
    return str(d)


def _canon(pdf: pd.DataFrame) -> str:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    return (pdf.sort_values(by=["url", "i"]).reset_index(drop=True)
            .to_csv(index=False))


def test_stateful_stream_equals_batch(spark, split_src, tmp_path):
    sdf = stream_align_segments_stateful(spark, split_src,
                                         normalization=NORM,
                                         max_files_per_trigger=1)
    assert sdf.isStreaming
    q = (sdf.writeStream.format("memory").queryName("stateful_align")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt_state"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = spark.sql("SELECT * FROM stateful_align").toPandas()
    assert len(got) > 0
    # batch twin over the union of all non-marker rows
    schema = "url string, side int, seq_no int, seg_text string"
    rows = [(u, 1, i, s) for u in URLS for i, s in enumerate(SIDE1[u])]
    rows += [(u, 2, i, s) for u in URLS for i, s in enumerate(SIDE2[u])]
    rows.append(NULL_ROW)
    want = align_segments(spark.createDataFrame(rows, schema),
                          normalization=NORM).toPandas()
    assert _canon(got) == _canon(want)
    # the null text came out as "" on both paths; every other segment
    # matched its reference line exactly after normalization
    assert (got["seg_text"] == "").sum() == 1
    real = got[got["seg_text"] != ""].sort_values(["url", "i"])
    assert real["extracted"].tolist() == [s for u in URLS for s in SIDE2[u]]
