"""Smoke test of the benchmark itself, at tiny sizes.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload untraced and one traced run in this process and
checks that every metric named in BENCHMARK.json is emitted with its
unit, that the reference checks pass, that the spans are well formed,
and that an untraced run installs no listener and sets no job group.
"""

from __future__ import annotations

import contextlib
import glob
import io
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import gen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402

TINY = {
    "train_feed": dict(gen.SIZES["train_feed"], events=2_000, vocab=5_000,
                       items=5_000, users=200, files=2),
    "corpus_curation": dict(gen.SIZES["corpus_curation"], docs=200, nodes=400),
    "stream": dict(gen.SIZES["stream"], events_per_file=200, docs_per_file=10),
}

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
    BENCH = json.load(f)


@pytest.fixture(scope="module")
def tiny(request):
    saved = dict(gen.SIZES)
    gen.SIZES.update(TINY)
    request.addfinalizer(lambda: gen.SIZES.update(saved))


def _run(args) -> tuple[dict, dict]:
    """Run the benchmark in-process; return (printed result, record)."""
    before = set(glob.glob(os.path.join(run.RESULTS, "*.json")))
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        assert run.main(args) == 0
    result = json.loads(out.getvalue().strip().splitlines()[-1])
    for path in set(glob.glob(os.path.join(run.RESULTS, "*.json"))) - before:
        with open(path) as f:
            record = json.load(f)
        if record["metrics"] == result["metrics"]:
            return result, record
    raise AssertionError("no result record written")


def _expect(result: dict, metrics: list[dict]) -> None:
    assert result["correct"] and result["failed"] == 0, result
    assert result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in metrics}
    for m in metrics:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_untraced_run_emits_end_to_end_metrics_without_tracing(
        tiny, workload, monkeypatch):
    from pyspark import SparkContext
    from pyspark.sql.streaming import StreamingQueryManager

    calls = []
    monkeypatch.setattr(StreamingQueryManager, "addListener",
                        lambda *a: calls.append("addListener"))
    monkeypatch.setattr(SparkContext, "setJobGroup",
                        lambda *a, **k: calls.append("setJobGroup"))
    result, record = _run(["--workload", workload, "--seed", "7",
                           "--seconds", "0.1", "--trace", "0"])
    _expect(result, BENCH["end_to_end"])
    assert calls == []
    assert "spans" not in record


def test_traced_run_emits_per_layer_metrics_and_well_formed_spans(tiny):
    result, record = _run(["--workload", "train_feed", "--seed", "7",
                           "--seconds", "0.1", "--trace", "1"])
    _expect(result, BENCH["per_layer"])
    spans = record["spans"]
    assert {s["run_id"] for s in spans} == {record["run_id"]}
    ids = {s["id"] for s in spans}
    assert len(ids) == len(spans)
    children: dict[int, list[dict]] = {}
    for s in spans:
        assert s["parent"] is None or s["parent"] in ids
        assert s["end"] >= s["start"]
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    for s in spans:
        kids = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
        covered = tracing.union_s(kids, s["start"], s["end"]) if kids else 0.0
        assert s["end"] - s["start"] - covered >= 0
        for a, b in kids:
            assert s["start"] <= a and b <= s["end"]
    assert record["traced_rows_per_s"] > 0
