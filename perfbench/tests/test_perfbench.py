"""Tests for the benchmark's own logic; none of them starts Spark.

Run with ``python3 -m pytest perfbench/tests -q`` from the repository
root.
"""

from __future__ import annotations

import filecmp
import json
import os

import pytest

from perfbench import datagen, run, stats
from perfbench.trace import Tracer, fold_event_log, union_length

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))


# -- output schema ----------------------------------------------------------

def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_matches_the_metrics_the_runner_prints():
    spec = _benchmark_json()
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER_UNITS
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"])


@pytest.mark.parametrize("units", [run.END_TO_END_UNITS, run.PER_LAYER_UNITS])
def test_result_line_schema(units):
    line = run.result_line(True, 30, 0, dict.fromkeys(units, 1), units)
    parsed = json.loads(json.dumps(line))
    assert set(parsed) == {"correct", "attempted", "failed", "metrics"}
    assert parsed["correct"] is True
    assert isinstance(parsed["attempted"], int) and parsed["attempted"] >= 1
    assert isinstance(parsed["failed"], int)
    assert set(parsed["metrics"]) == set(units)
    for name, m in parsed["metrics"].items():
        assert set(m) == {"value", "unit"}
        assert isinstance(m["value"], float)
        assert m["unit"] == units[name]


def test_runner_refuses_a_tree_without_the_engine(tmp_path, monkeypatch, capsys):
    monkeypatch.setattr(run, "ROOT", str(tmp_path))
    code = run.main(["--workload", "etl", "--seed", "1", "--seconds", "1"])
    assert code != 0
    assert capsys.readouterr().out == ""


# -- tail percentile --------------------------------------------------------

def test_tail_percentile_examples():
    assert stats.tail_percentile(10) is None
    assert stats.tail_percentile(11) == 9.0
    assert stats.tail_percentile(20) == 50.0
    assert stats.tail_percentile(28) == 64.0
    assert stats.tail_percentile(100) == 90.0
    assert stats.tail_percentile(1000) == 99.0


def test_tail_percentile_is_highest_with_ten_beyond():
    for n in range(11, 400):
        p = stats.tail_percentile(n)
        xs = list(range(n))
        beyond = sum(1 for x in xs if x > stats.percentile(xs, p))
        assert beyond >= stats.TAIL_MIN_BEYOND, n
        if p < 99:
            higher = sum(1 for x in xs if x > stats.percentile(xs, p + 1))
            assert higher < stats.TAIL_MIN_BEYOND, n


def test_latency_summary_falls_back_to_median_when_samples_are_few():
    s = stats.latency_summary([3.0, 1.0, 2.0])
    assert s == {"n": 3, "p50": 2.0, "tail_pct": 50.0, "tail": 2.0}
    s = stats.latency_summary([float(i) for i in range(1, 15)])  # p28 < p50
    assert s == {"n": 14, "p50": 7.5, "tail_pct": 50.0, "tail": 7.5}
    s = stats.latency_summary([float(i) for i in range(1, 21)])
    assert s["tail_pct"] == 50.0 and s["tail"] == 10.0
    s = stats.latency_summary([float(i) for i in range(1, 29)])
    assert s["tail_pct"] == 64.0 and s["tail"] == 18.0


# -- spans ------------------------------------------------------------------

def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (0.5, 2), (3, 4)]) == 3.0


def test_self_time_subtracts_children():
    tr = Tracer(enabled=True)
    tr.op = "p1.0"
    with tr.span("op"):
        with tr.span("child"):
            pass
        with tr.span("child"):
            pass
    spans = tr.with_self_times()
    parent, c1, c2 = spans
    assert c1["parent"] == parent["id"] == c2["parent"]
    assert parent["op"] == "p1.0"
    assert parent["self"] == pytest.approx(
        parent["dur"] - c1["dur"] - c2["dur"], abs=1e-9)


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("op"):
        pass
    assert tr.spans == []


# -- event-log fold ---------------------------------------------------------

def test_fold_event_log_on_the_committed_tiny_log():
    fold = fold_event_log(os.path.join(HERE, "data", "eventlog_tiny.json"))
    with open(os.path.join(HERE, "data", "eventlog_tiny.expected.json")) as fh:
        expected = json.load(fh)
    assert set(fold) == set(expected)
    for group, vals in expected.items():
        for key, want in vals.items():
            assert fold[group][key] == pytest.approx(want), (group, key)


# -- seeded generation ------------------------------------------------------

@pytest.fixture(scope="module")
def tables(tmp_path_factory):
    d = tmp_path_factory.mktemp("tables")
    datagen.generate_tables(str(d), rows={"orders": 40_000})
    return str(d)


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, s), os.path.join(b, s)) for s in cmp.common_dirs)


def test_tables_are_the_same_on_every_run(tables, tmp_path):
    datagen.generate_tables(str(tmp_path / "again"), rows={"orders": 40_000})
    datagen.generate_tables(str(tmp_path / "subset"), tables=["customer"])
    assert _same_tree(tables, str(tmp_path / "again"))
    assert filecmp.cmp(os.path.join(tables, "customer.parquet"),
                       str(tmp_path / "subset" / "customer.parquet"), shallow=False)


def _plan(tables, out, seed):
    plan = datagen.generate_drops(tables, str(out), seed, passes=3)
    strip = lambda d: {k: (os.path.basename(v) if k in ("dir", "redelivery_of") and v else v)
                       for k, v in d.items()}
    return {"salt": plan["salt"], "warmup": strip(plan["warmup"]),
            "passes": [[strip(d) for d in seq] for seq in plan["passes"]]}


def test_etl_drops_are_a_function_of_the_seed(tables, tmp_path):
    a = _plan(tables, tmp_path / "a", 3)
    b = _plan(tables, tmp_path / "b", 3)
    c = _plan(tables, tmp_path / "c", 4)
    assert a == b
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert a != c


def test_etl_drop_mix_is_fixed_and_keys_are_disjoint(tables, tmp_path):
    for seed in range(3):
        plan = _plan(tables, tmp_path / f"s{seed}", seed)
        assert len(plan["warmup"]["keys"]) == datagen.WARMUP_KEYS
        seen = set(plan["warmup"]["keys"])
        timed: set = set()
        for seq in plan["passes"]:
            assert len(seq) == datagen.NEW_PER_PASS + 1
            again = [d for d in seq if d["redelivery_of"]]
            assert len(again) == 1 and seq[-1] is again[0]
            for d in seq:
                assert len(d["keys"]) == datagen.DROP_KEYS
                if not d["redelivery_of"]:
                    assert not seen & set(d["keys"])
                    seen |= set(d["keys"])
                    timed |= set(d["keys"])
            # a re-delivery repeats a timed drop, never the smaller warm-up
            assert set(again[0]["keys"]) <= timed


def test_etl_drops_are_routed_and_carry_the_noise(tables, tmp_path):
    from kaggle_ecommerce_etl_spark.pipelines.dispatch import classify_file

    plan = datagen.generate_drops(tables, str(tmp_path), 1, passes=1)
    d = plan["warmup"]["dir"]
    routes = sorted(classify_file(f) for f in os.listdir(d))
    assert routes == ["amazon", "international", "sale"]
    text = {classify_file(f): open(os.path.join(d, f)).read() for f in os.listdir(d)}
    assert '"$' in text["amazon"]                       # $1,234.56 amounts
    assert any(t in text["amazon"] for t in (",NA,", ",n/a,", ",null,"))
    assert ",,,,," in text["amazon"] or ",,,," in text["sale"]  # mostly-null rows
    assert "\nidx,customer,date,months" in text["international"]  # 2nd header
    lines = text["sale"].splitlines()[1:]
    assert len({tuple(l.split(",")[1:]) for l in lines}) < len(lines)  # dups
