"""Each correctness check accepts a right output and rejects a corrupted
one. Run from the repository root: python3 -m pytest perfbench -q"""

from __future__ import annotations

import copy

import pandas as pd
import pyarrow as pa

from perfbench import checks, data, kpi


def _kpi_case():
    table = data.passengers(500, seed=7)
    want = kpi.tally(table)
    return copy.deepcopy(want), want, table.num_rows


def test_kpi_tables_accept_the_tally():
    got, want, n = _kpi_case()
    assert checks.kpi_tables(got, want, n) == []


def test_kpi_tally_counts_every_row():
    table = data.passengers(500, seed=7)
    want = kpi.tally(table)
    for name, t in want.items():
        assert sum(sum(v) for v in t.values()) == 500, name
    genders = table.column("Gender").to_pylist()
    assert want["kpi_gender"][("Male",)] == (genders.count("Male"),)


def test_kpi_tables_reject_one_count_off():
    got, want, n = _kpi_case()
    key = next(iter(got["kpi_travel_type"]))
    got["kpi_travel_type"][key] = (got["kpi_travel_type"][key][0] + 1,)
    problems = checks.kpi_tables(got, want, n)
    assert any("kpi_travel_type: differs" in p for p in problems)
    assert any("kpi_travel_type: counts sum" in p for p in problems)


def test_kpi_tables_reject_one_row_dropped():
    got, want, n = _kpi_case()
    got["kpi_class_satisfaction"].pop(next(iter(got["kpi_class_satisfaction"])))
    assert any("kpi_class_satisfaction" in p for p in checks.kpi_tables(got, want, n))


def test_kpi_tables_reject_rows_lost_everywhere():
    """The same rows missing from every table and from the tally still
    break conservation against the rows landed."""
    got, want, n = _kpi_case()
    assert checks.kpi_tables(got, want, n + 1) != []


def test_kpi_tables_reject_loyalty_split_that_disagrees_with_age():
    got, want, n = _kpi_case()
    age = next(iter(got["kpi_loyalty_by_age"]))
    loyal, disloyal = got["kpi_loyalty_by_age"][age]
    got["kpi_loyalty_by_age"][age] = (loyal + 1, disloyal)
    want["kpi_loyalty_by_age"][age] = (loyal + 1, disloyal)  # tally agrees
    problems = checks.kpi_tables(got, want, n)
    assert any("loyal + disloyal per age" in p for p in problems)


def _frame():
    return pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, 2.0], "s": ["a", "b", "c"]})


def test_oracle_problems_accept_reordered_rows():
    want = _frame()
    got = want.iloc[::-1].reset_index(drop=True)[["s", "v", "k"]]
    assert checks.oracle_problems("q", got, want) == []


def test_oracle_problems_reject_one_row_dropped_or_one_value_off():
    assert checks.oracle_problems("q", _frame().iloc[:2], _frame()) != []
    got = _frame()
    got.loc[1, "v"] += 1e-6
    assert checks.oracle_problems("q", got, _frame()) != []


def test_passengers_repeat_for_a_seed():
    a, b = data.passengers(100, seed=3), data.passengers(100, seed=3)
    assert a.equals(b)
    assert not a.equals(data.passengers(100, seed=4))
    assert isinstance(a, pa.Table)
