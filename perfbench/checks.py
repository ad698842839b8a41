"""Correctness checks, computed apart from the program. Each returns a
list of problems; an empty list means the output is correct."""

from __future__ import annotations

import pandas as pd

from tests.oracle_util import assert_frames_match


def kpi_tables(got: dict[str, dict], want: dict[str, dict], rows_landed: int) -> list[str]:
    """`got`/`want`: KPI name -> {key tuple: value tuple}. Every table must
    equal the generator's tally, every table's counts must sum to the rows
    landed, and loyal + disloyal per age must equal the age KPI's count."""
    problems = []
    for name, table in want.items():
        have = got.get(name, {})
        if have != table:
            diff = sorted(set(have.items()) ^ set(table.items()), key=str)[:4]
            problems.append(f"{name}: differs from the generator's tally: {diff}")
        total = sum(sum(v) for v in have.values())
        if total != rows_landed:
            problems.append(f"{name}: counts sum to {total}, {rows_landed} rows landed")
    age = got.get("kpi_age", {})
    loyalty = got.get("kpi_loyalty_by_age", {})
    split = {k: sum(v) for k, v in loyalty.items()}
    counts = {k: v[0] for k, v in age.items()}
    if split != counts:
        bad = sorted(set(split.items()) ^ set(counts.items()), key=str)[:4]
        problems.append(f"loyal + disloyal per age != age count: {bad}")
    return problems


def oracle_problems(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """The registry's oracle rule (tests/oracle_util.py): same row count and
    column names, and equal values after sorting rows, floats within 1e-9."""
    try:
        assert_frames_match(got, want, name)
    except AssertionError as ex:
        return [str(ex)]
    return []
