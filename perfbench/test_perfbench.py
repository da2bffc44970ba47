"""Tests of the benchmark itself (not collected by the repo's tier-1 run).

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke tests run the real command at a tenth of the size for one
second each (about two minutes in all); the check tests need no Spark.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from checks import (GrowingOracle, dedup_problems, overlap_score,  # noqa: E402
                    rank_problems, replay, topk_problems)
from layers import UNITS  # noqa: E402
from run import E2E_UNITS  # noqa: E402
from spans import Span, attribute_jobs  # noqa: E402

DOCS = {
    11: "parse token parse index block",
    -7: "parse token query",
    3: "index block shard merge",
    42: "parse parse parse token shard",
    5: "query rank score doc term",
}


def _oracle():
    return GrowingOracle(list(DOCS), list(DOCS.values()))


def test_benchmark_json_names_match_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == UNITS
    assert [w["name"] for w in spec["workloads"]] == ["serve", "bulk"]


def test_oracle_topk_passes_and_one_swapped_doc_fails():
    o = _oracle()
    ranked = o.ranked("parse token")
    good = [(d, s) for d, s in ranked[:3]]
    assert topk_problems(good, ranked, 3, "q") == []
    outside = next(d for d in DOCS if d not in {d for d, _ in good})
    bad = [(outside if i == 1 else d, s) for i, (d, s) in enumerate(good)]
    assert topk_problems(bad, ranked, 3, "q")


def test_deleted_docs_are_dropped_but_keep_their_statistics():
    o = _oracle()
    before = dict(o.ranked("parse"))
    after = dict(o.ranked("parse", frozenset({42})))
    assert 42 not in after
    assert all(after[d] == before[d] for d in after)
    o.purge([42])
    assert dict(o.ranked("parse")) != after


def _rank_rows(o, query, first_k=3, final_k=2):
    ranked = o.ranked(query)
    cands = [d for d, _ in ranked[:first_k]]
    scored = sorted(((overlap_score(query, DOCS[d]), d) for d in cands),
                    key=lambda t: (-t[0], t[1]))[:final_k]
    bm25 = dict(ranked)
    return ranked, [{"doc_id": d, "score": s, "bm25_score": bm25[d],
                     "rank": i + 1} for i, (s, d) in enumerate(scored)]


def test_rank_rows_pass_and_perturbations_fail():
    o = _oracle()
    q = "parse token"
    ranked, rows = _rank_rows(o, q)
    assert rank_problems(rows, q, ranked, DOCS, 3, 2, "q") == []
    swapped = [dict(r) for r in rows]
    swapped[0]["rank"], swapped[1]["rank"] = 2, 1
    assert rank_problems(swapped, q, ranked, DOCS, 3, 2, "q")
    wrong_score = [dict(r) for r in rows]
    wrong_score[0]["score"] += 0.25
    assert rank_problems(wrong_score, q, ranked, DOCS, 3, 2, "q")
    not_a_candidate = [dict(r) for r in rows]
    not_a_candidate[-1]["doc_id"] = 3  # no query term in it
    assert rank_problems(not_a_candidate, q, ranked, DOCS, 3, 2, "q")


def test_dedup_checks():
    base = " ".join(f"w{i}" for i in range(60))
    near = base.replace("w30", "w31", 1)
    ids, texts = [1, 2, 3], [base, near, "other words entirely here now"]
    ok, recall = dedup_problems(ids, texts, {1, 3}, [(1, 2)], 0.8, 0.95,
                                "d")
    assert ok == [] and recall == 1.0
    missed, recall = dedup_problems(ids, texts, {1, 2, 3}, [(1, 2)], 0.8,
                                    0.95, "d")
    assert missed and recall == 0.0
    wrongly_removed, _ = dedup_problems(ids, texts, {1, 2}, [(1, 2)], 0.8,
                                        0.95, "d")
    assert wrongly_removed


def test_replay_follows_appends_and_deletes():
    o = _oracle()
    q = "index block"
    events = [("add", list(DOCS)[:3], list(DOCS.values())[:3]),
              ("add", list(DOCS)[3:], list(DOCS.values())[3:]),
              ("delete", [11])]
    want = o.ranked(q, frozenset({11}))[:2]
    rows = {1: [{"doc_id": d, "score": s} for d, s in want]}
    good = events + [("search", {1: q}, rows, {"k": 2})]
    assert replay(good, DOCS, 0.8, 0.95)[0] == []
    stale = events[:2] + [("search", {1: q}, rows, {"k": 2})]
    assert replay(stale, DOCS, 0.8, 0.95)[0]


def test_jobs_are_attributed_to_the_innermost_span(tmp_path):
    """Two jobs in the child span, one in the parent: the parent counts
    all three, and its driver gap is its wall time outside their union."""
    def job(jid, group, start, end, stage):
        return [
            {"Event": "SparkListenerJobStart", "Job ID": jid,
             "Submission Time": start * 1000, "Stage IDs": [stage],
             "Properties": {"spark.jobGroup.id": group}},
            {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
             "Task Metrics": {"Executor Run Time": 500,
                              "Executor CPU Time": 2e8,
                              "Shuffle Write Metrics":
                                  {"Shuffle Bytes Written": 1e6}}},
            {"Event": "SparkListenerJobEnd", "Job ID": jid,
             "Completion Time": end * 1000}]
    events = (job(0, "span-1", 101, 103, 0) + job(1, "span-1", 102, 104, 1)
              + job(2, "span-0", 106, 107, 2))
    (tmp_path / "app-1").write_text(
        "\n".join(json.dumps(e) for e in events) + "\n")
    parent = Span("outer", 100.0, 110.0, None, 1, 0)
    child = Span("inner", 101.0, 105.0, 0, 1, 1)
    attribute_jobs([parent, child], str(tmp_path))
    assert child.spark["jobs"] == 2 and child.spark["tasks"] == 2
    assert child.spark["driver_gap_s"] == pytest.approx(1.0)
    assert parent.spark["jobs"] == 3
    assert parent.spark["task_s"] == pytest.approx(1.5)
    assert parent.spark["shuffle_write_mb"] == pytest.approx(3.0)
    assert parent.spark["driver_gap_s"] == pytest.approx(6.0)


def _run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", "1", "--seconds", "1", "--trace", str(trace),
         "--scale", "0.1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload,trace,units",
                         [("serve", 0, E2E_UNITS), ("bulk", 1, UNITS)])
def test_smoke_run_prints_every_metric_with_its_unit(workload, trace,
                                                     units):
    res = _run(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0
    assert res["attempted"] >= 1
    assert {k: v["unit"] for k, v in res["metrics"].items()} == units
    assert all(isinstance(v["value"], (int, float))
               for v in res["metrics"].values())
