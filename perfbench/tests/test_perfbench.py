"""The benchmark's own tests.  Run from the root of a checkout:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

import dataclasses
import filecmp
import json
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent.parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import eventlog  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402


def _files(root):
    return sorted(str(p.relative_to(root)) for p in Path(root).rglob("*")
                  if p.is_file())


@pytest.mark.parametrize("workload", sorted(gen.SPECS))
def test_generation_is_byte_identical_per_seed(tmp_path, workload):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    gen.make_batches(workload, 7, 2, str(a))
    gen.make_batches(workload, 7, 2, str(b))
    gen.make_batches(workload, 8, 2, str(c))
    names = _files(a)
    assert names and names == _files(b)
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert not mismatch and not errors
    _, mismatch, _ = filecmp.cmpfiles(a, c, names, shallow=False)
    assert mismatch, "another seed must give other inputs"


def test_metric_names_match_benchmark_json():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(gen.SPECS)


def test_self_time_of_a_span_tree():
    S = spans.Span
    tree = [S("root", 0.0, 10.0, -1, 0),
             S("a", 1.0, 4.0, 0, 0),       # child of root
             S("b", 3.0, 6.0, 0, 0),       # overlaps a: 4..6 is new cover
             S("a.x", 1.5, 2.0, 1, 0),     # grandchild, only a's cover
             S("late", 9.0, 12.0, 0, 0)]   # clipped at root's end
    st = spans.self_times(tree)
    assert st == pytest.approx([10 - (5 + 1), 2.5, 3.0, 0.5, 3.0])
    tot = spans.totals(tree + [S("a", 20.0, 21.0, -1, -1)], min_batch=0)
    assert tot["a"] == pytest.approx({"total": 3.0, "self": 2.5,
                                      "calls": 1, "max": 3.0})


def test_tracer_wraps_and_restores():
    class Box:
        @staticmethod
        def f(x):
            return x + 1
    tr = spans.Tracer()
    orig = Box.f
    seen = []
    tr.wrap(Box, "f", lambda x: f"f{x}", lambda r, a, k: seen.append(r))
    assert Box.f(1) == 2 and seen == [2]
    assert [s.name for s in tr.spans] == ["f1"]
    tr.close()
    assert Box.f is orig


def test_eventlog_names_pandas_nodes():
    def node(name, simple):
        return {"nodeName": name, "simpleString": simple}
    assert eventlog._python_func(node(
        "MapInPandas", "MapInPandas kernel(url#1, html#2)#4, [url#5], false"
    )) == "kernel"
    assert eventlog._python_func(node(
        "FlatMapGroupsInPandas",
        "FlatMapGroupsInPandas [page_uid#6L], assemble(page_uid#6L, url#7)#9"
    )) == "assemble"
    assert eventlog._python_func(node("Project", "Project [url#1]")) is None


def _smoke(tmp_path, monkeypatch, workload, **sizes):
    monkeypatch.setitem(gen.SPECS, workload,
                        dataclasses.replace(gen.SPECS[workload], **sizes))
    run._env()
    result, record = run.measure(workload, 3, 1.0, False,
                                 str(tmp_path / "work"))
    assert set(result["metrics"]) == set(run.END_TO_END)
    assert result["attempted"] >= 1
    return result, record


def test_smoke_extract_crawl(tmp_path, monkeypatch):
    result, record = _smoke(tmp_path, monkeypatch, "extract_crawl",
                            batch=40, warmup=10)
    assert result["correct"], record["errors"]
    assert result["failed"] == 0


def test_smoke_extract_giants(tmp_path, monkeypatch):
    result, record = _smoke(tmp_path, monkeypatch, "extract_giants",
                            batch=5, warmup=5, giants=1)
    assert result["correct"], record["errors"]
    assert result["failed"] == 0
