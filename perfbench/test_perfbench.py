"""Tests for the benchmark's own generators, checkers and trace reader.

    python3 -m pytest perfbench -q -p no:cacheprovider

Run from the repository root. All but the last test run without Spark;
`test_smoke_every_workload` starts one small session per workload.
"""

from __future__ import annotations

import copy
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
from workloads import (  # noqa: E402
    check_dedup_dense, check_fk_traces, check_parse_route, count_xes_traces)

from redo_log_parser_spark.config import java_ts_format_to_strptime  # noqa: E402
from redo_log_parser_spark.functions.parse import parse_record_batch  # noqa: E402


def _routing(texts, ts_pattern):
    """Routed counts per sink and (rows, distinct row ids) per
    (op, table_id), from the pandas parse kernel itself."""
    p = parse_record_batch(texts, java_ts_format_to_strptime(ts_pattern))
    clean = p[p["parse_error"].isna()]
    routed = {f"sink_{op}": int((clean["op"] == op).sum())
              for op in ("insert", "update", "delete")}
    routed["sink_rejects"] = int(p["parse_error"].notna().sum())
    per = {f"{op}|{t}": [len(g), g["row_id"].nunique()]
           for (op, t), g in clean.groupby(["op", "table_id"])}
    return routed, per, p["parse_error"].value_counts().to_dict()


def test_parse_route_truth_matches_the_parse_kernel():
    docs, truth = gen.gen_parse_route(5, 3000)
    routed, per, errors = _routing(docs["text"], gen.PR_TS_PATTERN)
    assert routed == truth.routed
    assert per == truth.per_op_table
    assert errors == truth.rejects_by_error
    assert 0.005 < truth.routed["sink_rejects"] / truth.rows < 0.02


def test_fk_traces_truth_matches_the_parse_kernel():
    docs, truth = gen.gen_fk_traces(5, 3)
    routed, _, _ = _routing(docs["text"], "dd-MMM-yyyy HH:mm:ss")
    assert routed == truth.routed
    assert truth.traces == {gen.FK_ROOTS[0]: 210}


def test_generators_are_seeded():
    a, ta = gen.gen_parse_route(7, 500)
    b, tb = gen.gen_parse_route(7, 500)
    c, _ = gen.gen_parse_route(8, 500)
    assert a.equals(b) and ta == tb and not a["text"].equals(c["text"])
    assert gen.gen_fk_traces(7, 2)[0].equals(gen.gen_fk_traces(7, 2)[0])
    assert not gen.gen_fk_traces(7, 2)[0]["text"].equals(gen.gen_fk_traces(8, 2)[0]["text"])
    assert gen.gen_dedup_dense(7, 200).equals(gen.gen_dedup_dense(7, 200))


def test_dedup_truth_is_consistent():
    docs = gen.gen_dedup_dense(3, 400)
    truth = gen.dedup_truth(docs)
    assert truth.pairs and all(a < b for a, b in truth.pairs)
    for a, b in truth.pairs:
        assert truth.components[a] == truth.components[b]
    assert all(c <= d for d, c in truth.components.items())
    assert all(truth.components[r] == c for c, r in truth.reps.items())


# ------------------------------------------------------------------ checkers

@pytest.fixture(scope="module")
def route_case():
    _, truth = gen.gen_parse_route(1, 2000)
    truth = json.loads(json.dumps(truth.__dict__))
    out = {"routed": dict(truth["routed"]),
           "per_op_table": {k: list(v) for k, v in truth["per_op_table"].items()}}
    return out, truth


def test_parse_route_check_passes_on_correct_output(route_case):
    out, truth = route_case
    assert check_parse_route(out, truth) == []


def test_parse_route_check_fails_on_one_routed_row_dropped(route_case):
    out, truth = copy.deepcopy(route_case)
    out["routed"]["sink_insert"] -= 1
    assert check_parse_route(out, truth)
    out, truth = copy.deepcopy(route_case)
    key = next(iter(out["per_op_table"]))
    out["per_op_table"][key][0] -= 1
    assert check_parse_route(out, truth)


def _xes(path, n):
    with open(path, "w", encoding="utf-8") as fh:
        fh.write('<?xml version="1.0" encoding="UTF-8"?>\n'
                 '<log xmlns="http://www.xes-standard.org/">'
                 + "<trace><event/></trace>" * n + "</log>")


@pytest.fixture
def fk_case(tmp_path):
    _, truth = gen.gen_fk_traces(1, 2)
    truth = json.loads(json.dumps(truth.__dict__))
    paths = {}
    for rc, n in truth["traces"].items():
        paths[rc] = str(tmp_path / f"{len(paths)}.xes")
        _xes(paths[rc], n)
    out = {"routed": dict(truth["routed"]), "pks": truth["pks"],
           "fks": truth["fks"], "traces": dict(truth["traces"]), "xes": paths}
    return out, truth


def test_fk_traces_check_passes_on_correct_output(fk_case):
    out, truth = fk_case
    assert check_fk_traces(out, truth) == []
    assert count_xes_traces(next(iter(out["xes"].values()))) == 140


def test_fk_traces_check_fails_on_one_trace_missing(fk_case):
    out, truth = fk_case
    rc = gen.FK_ROOTS[0]
    _xes(out["xes"][rc], truth["traces"][rc] - 1)
    assert check_fk_traces(out, truth)


def test_fk_traces_check_fails_on_wrong_counts_or_schema(fk_case):
    out, truth = fk_case
    for key, broken in (("traces", {gen.FK_ROOTS[0]: 139}), ("fks", truth["fks"][:1]),
                        ("pks", truth["pks"][1:])):
        bad = dict(out, **{key: broken})
        assert check_fk_traces(bad, truth), key


def test_fk_traces_check_fails_on_malformed_xes(fk_case):
    out, truth = fk_case
    with open(out["xes"][gen.FK_ROOTS[0]], "w", encoding="utf-8") as fh:
        fh.write("<log><trace></log>")
    assert check_fk_traces(out, truth)


@pytest.fixture(scope="module")
def dedup_case():
    truth = gen.dedup_truth(gen.gen_dedup_dense(2, 300))
    truth = json.loads(json.dumps(truth.__dict__))
    out = {"pairs": [list(p) for p in truth["pairs"]],
           "components": {int(k): v for k, v in truth["components"].items()},
           "reps": {int(k): v for k, v in truth["reps"].items()}}
    return out, truth


def test_dedup_check_passes_on_correct_output(dedup_case):
    out, truth = dedup_case
    assert check_dedup_dense(out, truth) == []


def test_dedup_check_fails_on_one_pair_removed(dedup_case):
    out, truth = copy.deepcopy(dedup_case)
    out["pairs"] = out["pairs"][1:]
    assert check_dedup_dense(out, truth)
    out, truth = copy.deepcopy(dedup_case)
    out["pairs"].append(out["pairs"][0])  # a duplicated pair row
    assert check_dedup_dense(out, truth)


def test_dedup_check_fails_on_wrong_component(dedup_case):
    out, truth = copy.deepcopy(dedup_case)
    a, b = out["pairs"][0]
    out["components"][b] = b
    assert check_dedup_dense(out, truth)


# --------------------------------------------------------- trace and config

def test_read_event_log_sums_per_group(tmp_path):
    plan = {"nodeName": "SortMergeJoin", "children": [],
            "metrics": [{"name": "number of output rows", "accumulatorId": 7}]}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "perfbench:3"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Properties": {}},
        *[{"Event": "SparkListenerTaskEnd", "Stage ID": sid,
           "Task Info": {"Launch Time": 0, "Finish Time": t,
                         "Accumulables": [{"ID": 7, "Update": "5"},
                                          {"Name": spans.PY_RUN, "Update": "250"}]},
           "Task Metrics": {"Executor Run Time": t, "Executor CPU Time": 10**9,
                            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}}}
          for sid, t in ((0, 100), (0, 300), (1, 50), (2, 40))],
        {"Event": "SparkListenerSQLAdaptiveExecutionUpdate", "sparkPlanInfo": plan},
    ]
    path = tmp_path / "log"
    path.write_text("\n".join(json.dumps(e) for e in events))
    groups = spans.read_event_log(str(path))
    g = groups["perfbench:3"]
    assert g["jobs"] == 1 and g["cpu_s"] == 3.0 and g["run_s"] == pytest.approx(0.45)
    assert g["shuffle_write_bytes"] == 300 and g[spans.PY_RUN] == 750
    assert g["max_join_rows"] == 15
    assert spans._task_skew(g["stages"]) == 1.5
    assert groups[None]["jobs"] == 1 and groups[None]["cpu_s"] == 1.0


def test_benchmark_json_lists_what_the_runs_report():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    assert [w["name"] for w in bench["workloads"]] == ["fk_traces", "dedup_dense"]
    assert {m["name"] for m in bench["end_to_end"]} == {
        "rows_per_s", "first_pass_s", "setup_s", "peak_rss_mb"}
    assert [m["name"] for m in bench["per_layer"]] == spans.metric_names()
    assert all(m["unit"] == spans.metric_unit(m["name"]) for m in bench["per_layer"])


def test_driver_memory_fits_the_host():
    assert run.driver_memory(16070) == "4017m"
    assert run.driver_memory(1 << 20) == "8192m"


@pytest.mark.parametrize("workload,size", [
    ("parse_route", 3000), ("fk_traces", 1), ("dedup_dense", 300)])
def test_smoke_every_workload(tmp_path, workload, size):
    """One cold, one traced and one untraced pass at a small size: every
    output check passes and the layer self times add up to the pass."""
    work = str(tmp_path)
    run.prepare(workload, 1, work, size=size)
    env = run.child_env(ROOT, work, run.host_facts()["mem_total_mb"])
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "child.py"), "--workload", workload,
         "--work", work, "--cores", "2", "--trace", "1", "--seconds", "0"],
        env=env, capture_output=True, text=True, timeout=600, cwd=ROOT)
    assert proc.returncode == 0, proc.stderr[-2000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert res["problems"] == []
    assert [p["traced"] for p in res["passes"]] == [False, True, False]
    layers = res["layers"]
    assert 0.9 <= layers["trace.layer_sum_ratio"] <= 1.0 + 1e-9
    assert layers["sources.rows_read"] > 0
    if workload == "fk_traces":
        with open(os.path.join(work, "truth.json"), encoding="utf-8") as fh:
            assert layers["rowid.incarnations"] == json.load(fh)["incarnations"]
