"""The output checks: upsert replay and oracle comparison catch corruption."""

import pandas as pd

import check
import gen

SMALL = gen.Shape(tiles=200, annotations=3_000, orders=1_000, customers=300, suppliers=50,
                  events=1_000, documents=200, embeddings=20)


def test_replay_later_batch_wins_by_key():
    init = pd.DataFrame({"k": [1, 2, 3], "v": ["a", "b", "c"]})
    out = check.replay_upserts(init, [pd.DataFrame({"k": [2, 4], "v": ["B", "D"]}),
                                      pd.DataFrame({"k": [4], "v": ["DD"]})], "k")
    assert out.to_dict("list") == {"k": [1, 2, 3, 4], "v": ["a", "B", "c", "DD"]}


def test_state_check_catches_a_corrupted_row():
    want = pd.DataFrame({"k": [1, 2], "v": ["a", "b"]})
    assert check.state_problems(want.iloc[::-1], want, "k") == []
    bad = want.copy()
    bad.loc[1, "v"] = "x"
    assert check.state_problems(bad, want, "k")
    assert check.state_problems(want.iloc[:1], want, "k")


def test_oracle_check_catches_a_corrupted_output(tmp_path):
    from ast_data_pipeline_spark.registry import load_all

    d = str(tmp_path / "in")
    gen.generate(d, "analytics", 3, SMALL)
    spec = load_all()["q4_order_priority"]
    oc = check.OracleCheck(d, str(tmp_path / "cache"))
    good = oc.expected(spec.name, spec.oracle).copy()
    assert oc.problems(spec.name, spec.oracle, good) == []
    bad = good.copy()
    bad.iloc[0, -1] = bad.iloc[0, -1] + 1
    assert oc.problems(spec.name, spec.oracle, bad)
    assert oc.problems(spec.name, spec.oracle, good.iloc[1:])
    # the second lookup is served from the per-input cache
    assert len(list((tmp_path / "cache").rglob("*.pkl"))) == 1


def test_changed_oracle_sql_misses_the_cache(tmp_path):
    d = str(tmp_path / "in")
    gen.generate(d, "analytics", 3, SMALL)
    oc = check.OracleCheck(d, str(tmp_path / "cache"))
    sql = "SELECT count(*) AS n FROM orders"
    assert oc.expected("probe", sql)["n"].iloc[0] == SMALL.orders
    # a stale entry under the old SQL must not answer the new SQL
    changed = "SELECT count(*) AS n FROM customer"
    assert oc.cache_path("probe", changed) != oc.cache_path("probe", sql)
    assert oc.expected("probe", changed)["n"].iloc[0] == SMALL.customers
    assert len(list((tmp_path / "cache").rglob("*.pkl"))) == 2
