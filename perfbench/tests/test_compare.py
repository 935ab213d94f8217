"""The comparison tool on synthetic run sets."""

import json

import pytest

import compare

SPEC = {"end_to_end": [{"name": "op_p50_s", "unit": "s", "better": "lower", "bound": 0.1}],
        "per_layer": []}
BOX = {"cores": 4, "ram_gib": 15.7, "heap": "3g"}


def runs(values, box=BOX, workload="inventory"):
    return [{"workload": workload, "seed": i, "trace": 0, "box": box,
             "end_to_end": {"op_p50_s": v}} for i, v in enumerate(values)]


def one(parent, change):
    (row,) = compare.compare(runs(parent), runs(change), SPEC)
    return row


def test_clear_gain():
    p = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]
    row = one(p, [v * 0.8 for v in p])
    assert row["verdict"] == "gain" and row["win_frac"] == 1.0 and row["pairs"] == 10


def test_regression_past_the_bound():
    p = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]
    assert one(p, [v * 1.2 for v in p])["verdict"] == "regression"


def test_same_code_is_no_regression():
    p = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]
    row = one(p, list(reversed(p)))
    assert row["verdict"] == "no regression"
    assert row["parent"][1] == pytest.approx(10.05)


def test_wide_spread_is_unresolved():
    p = [6.0, 14.0, 8.0, 12.0, 10.0, 7.0, 13.0, 9.0, 11.0, 10.0]
    assert one(p, [v * 1.02 for v in reversed(p)])["verdict"] == "unresolved"


def test_small_gain_inside_the_spread_is_not_claimed():
    p = [10.0, 10.6, 9.5, 10.4, 9.8, 10.3, 9.6, 10.2, 10.0, 10.5]
    assert one(p, [v - 0.1 for v in p])["verdict"] != "gain"


def test_refuses_run_sets_from_different_boxes():
    with pytest.raises(ValueError, match="different boxes"):
        compare.compare(runs([1.0, 1.1]), runs([1.0, 1.1], box={**BOX, "cores": 8}), SPEC)


def test_reads_records_from_captured_stdout(tmp_path):
    f = tmp_path / "run.out"
    rec = runs([1.5])[0]
    f.write_text("noise\n" + json.dumps({"record": rec}) + "\n"
                 + json.dumps({"correct": True, "attempted": 1, "failed": 0, "metrics": {}}) + "\n")
    assert compare.load_runs([str(tmp_path)]) == [rec]


def test_wall_times_are_compared_without_a_bound():
    p, c = runs([10.0, 10.1, 9.9]), runs([12.0, 12.1, 11.9])
    for r in p + c:
        r["wall"] = {"op_p50_s": 99.0, "op_wall_s": r["end_to_end"]["op_p50_s"]}
    rows = {r["metric"]: r for r in compare.compare(p, c, SPEC)}
    assert rows["op_wall_s"]["verdict"] == "no claim"
    # an end-to-end value wins over a wall value of the same name
    assert rows["op_p50_s"]["verdict"] == "regression"
