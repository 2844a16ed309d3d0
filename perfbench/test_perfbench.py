"""Offline tests of the benchmark's own logic; no Spark session needed.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE)]

from perfbench import eventlog, inputs, workloads  # noqa: E402

CANNED = os.path.join(HERE, "testdata", "eventlog_small.jsonl")


def _parse():
    with open(CANNED) as f:
        return eventlog.parse_event_log(f)


def test_parse_groups_task_metrics_by_job_group():
    groups = _parse()
    assert set(groups) == {"block.exact_key", "cluster.cc"}
    ek = groups["block.exact_key"]
    assert (ek["jobs"], ek["tasks"]) == (3, 3)
    assert ek["task_s"] == pytest.approx((51 + 95 + 3) / 1000)
    assert ek["shuffle_write_bytes"] == 39310 + 59
    cc = groups["cluster.cc"]
    assert (cc["jobs"], cc["tasks"]) == (7, 13)
    assert cc["spill_bytes"] == 2048  # disk spill only, not memory spill


def test_ungrouped_jobs_are_ignored():
    # job 200 has no group; its 5 s task must not land in any layer
    groups = _parse()
    assert all(g["task_s"] < 5 for g in groups.values())


def test_layer_metrics_cover_every_name_with_valid_names():
    groups = _parse()
    report = eventlog.layer_metrics(
        groups, {"cluster.cc": 1.5}, {"cluster.cc": 10},
        {"cluster.cc.edges_in": 42},
    )
    assert list(report) == list(eventlog.metric_units())
    for name, m in report.items():
        assert eventlog.NAME_RE.fullmatch(name), name
        assert set(m) == {"value", "unit"}
    assert report["cluster.cc.wall_s"]["value"] == 1.5
    assert report["cluster.cc.rows_out"]["value"] == 10
    assert report["cluster.cc.jobs"]["value"] == 7
    assert report["cluster.cc.edges_in"]["value"] == 42
    # a layer that did not run reports zeros
    assert report["dedup.minhash.tasks"]["value"] == 0


def test_benchmark_json_matches_the_code():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert per_layer == eventlog.metric_units()
    for m in spec["end_to_end"] + spec["per_layer"] + spec["workloads"]:
        assert eventlog.NAME_RE.fullmatch(m["name"]), m["name"]


def test_pairwise_f1_counts_weighted_pairs():
    count = {"a": 2, "b": 1, "c": 1}
    same = {"a": "x", "b": "x", "c": "y"}
    assert workloads.pairwise_f1(same, same, count) == 1.0
    # pred joins all three: pairs ab=2, ac=2, bc=1; ref only ab=2
    pred = {"a": "x", "b": "x", "c": "x"}
    assert workloads.pairwise_f1(pred, same, count) == pytest.approx(2 * 2 / (5 + 2))


def test_components_take_the_min_member():
    comp = workloads._components(["a", "b", "c", "d"], [("c", "b"), ("b", "a")])
    assert comp == {"a": "a", "b": "a", "c": "a", "d": "d"}


def test_documents_are_a_function_of_the_seed():
    assert inputs.make_documents(3, 200) == inputs.make_documents(3, 200)
    assert inputs.make_documents(3, 200) != inputs.make_documents(4, 200)
    docs = inputs.make_documents(3, 2000)
    assert [d["doc_id"] for d in docs] == list(range(2000))
    texts = [d["text"] for d in docs]
    # the sample corpus' copy rates: 0.16% exact copies, 5% " dup" copies
    assert len(texts) - len(set(texts)) == round(2000 * inputs.EXACT_SHARE)
    assert sum(t.endswith(" dup") for t in texts) == round(2000 * inputs.NEAR_SHARE)
    assert all(10 <= len(t.split()) <= 101 for t in texts)
