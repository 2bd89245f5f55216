"""Tests of the benchmark itself (not of the program it measures).

    python3 -m pytest perfbench/tests -q

The smoke tests run ``perfbench/run.py`` at its tiny input size in a
subprocess, each starting its own local Spark session, so the module takes
a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from perfbench import gates, inputs  # noqa: E402
from perfbench.run import WORKLOAD_NAMES, load_benchmark  # noqa: E402

BENCH = load_benchmark()


def test_benchmark_json_shape():
    assert set(BENCH) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    assert {w["name"] for w in BENCH["workloads"]} <= set(WORKLOAD_NAMES)
    setup = [m for m in BENCH["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["bound"] == max(
        m["bound"] for m in BENCH["end_to_end"])


def test_request_multiset_is_seed_independent(tmp_path):
    def multiset(seed):
        return sorted((r["kind"], r["rank"]) for r in inputs.request_sequence(
            seed, 32, cache_dir=str(tmp_path)))

    assert multiset(1) == multiset(2)
    seq = inputs.request_sequence(1, 32, cache_dir=str(tmp_path))
    assert seq != inputs.request_sequence(2, 32, cache_dir=str(tmp_path))
    assert seq == inputs.request_sequence(1, 32, cache_dir=str(tmp_path))
    ranks = inputs.zipf_ranks(32)
    assert len(ranks) == 32 and ranks.count(0) > ranks.count(1) > 0


# -- smoke runs: every metric is emitted with its unit --------------------
@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOAD_NAMES)
def test_tiny_run_emits_every_metric(tmp_path, workload, trace):
    """Every workload, the ones BENCHMARK.json leaves out included."""
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
           "--workload", workload, "--seed", "3", "--seconds", "1",
           "--trace", str(trace), "--scale", "tiny",
           "--out", str(tmp_path / "out"), "--cache", str(tmp_path / "cache")]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=900)
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    listed = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert {n: m["unit"] for n, m in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in listed}
    assert all(isinstance(m["value"], (int, float))
               for m in result["metrics"].values())


def test_run_without_program_sources_fails(tmp_path):
    """In a directory holding only the benchmark, run.py exits non-zero
    without printing a result."""
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for f in os.listdir(os.path.join(ROOT, "perfbench")):
        if f.endswith(".py"):
            (bench / f).write_bytes(
                open(os.path.join(ROOT, "perfbench", f), "rb").read())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "full_build",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


# -- a corrupted output trips the matching gate ---------------------------
def _triples(n: int) -> pd.DataFrame:
    return pd.DataFrame({"conv_id": [f"c{i}" for i in range(n)],
                         "turn_idx": range(n), "subj": "s",
                         "pred": "uses", "obj": [f"o{i}" for i in range(n)]})


def test_dropped_triple_trips_recall_gate():
    want = _triples(40)
    assert gates.triple_pr(want, want) == (1.0, 1.0)
    p, r = gates.triple_pr(want.iloc[1:], want)
    assert p == 1.0 and r < 1.0
    # one dropped triple of ten is below the benchmark's minimum quality
    p, r = gates.triple_pr(want.iloc[:9], want.iloc[:10])
    assert r < gates.MIN_QUALITY


def test_altered_triple_trips_precision_gate():
    want = _triples(10)
    got = want.copy()
    got.loc[0, "obj"] = "wrong"
    p, r = gates.triple_pr(got, want)
    assert p < gates.MIN_QUALITY and r < gates.MIN_QUALITY


def test_relinked_mention_trips_link_gate():
    expected = pd.DataFrame({"conv_id": ["c1", "c2"],
                             "surface": ["Py-Torch", "numpy"],
                             "entity_id": ["Q1", None]})
    linked = pd.DataFrame({"conv_id": ["c1", "c2"],
                           "norm_surface": ["py torch", "numpy"],
                           "entity_id": ["Q1", None]})
    assert gates.link_accuracy(linked, expected) == 1.0
    linked.loc[1, "entity_id"] = "Q9"
    assert gates.link_accuracy(linked, expected) == 0.5


def test_altered_edge_trips_query_gate():
    edges = pd.DataFrame({"src_id": ["a", "a", "b"],
                          "dst_id": ["b", "c", "c"],
                          "rel": ["r", "r", "r"]})
    statements = pd.DataFrame(columns=["canonical_id", "prop", "value",
                                       "source", "count"])
    oracle = gates.QueryOracle(edges, statements, pd.DataFrame())
    try:
        want, ordered = oracle.answer("neighbors", "a",
                                      ["src_id", "dst_id", "rel"])
        got = [("a", "c", "r"), ("a", "b", "r")]
        assert gates.answers_match("neighbors", got, want, ordered)
        got[0] = ("a", "d", "r")
        assert not gates.answers_match("neighbors", got, want, ordered)
        top, ordered = oracle.answer("top_entities_by_count", None, [])
        assert top == [("c", 2), ("b", 1)]
        assert not gates.answers_match("top_entities_by_count",
                                       [("b", 1), ("c", 2)], top, ordered)
    finally:
        oracle.close()


def test_altered_edge_trips_kb_mismatch_gate(tmp_path):
    from softcite_kb_spark.session import get_spark
    from softcite_kb_spark.storage import TableStore

    spark = get_spark(master="local[2]", app_name="perfbench-test",
                      shuffle_partitions=2,
                      extra_conf={"spark.driver.memory": "1g"})
    edges = pd.DataFrame({"src_id": ["a", "a", "b"],
                          "dst_id": ["b", "c", "c"], "rel": ["r"] * 3})
    ref, got = TableStore(str(tmp_path / "ref")), TableStore(
        str(tmp_path / "got"))
    ref.write(spark.createDataFrame(edges), "edges")
    got.write(spark.createDataFrame(edges), "edges")
    assert gates.kb_mismatch_rows(spark, got, ref, ("edges",)) == {
        "edges": 0}
    edges.loc[2, "dst_id"] = "d"
    got.write(spark.createDataFrame(edges), "edges")
    assert gates.kb_mismatch_rows(spark, got, ref, ("edges",)) == {
        "edges": 2}
