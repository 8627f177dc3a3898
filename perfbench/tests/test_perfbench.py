"""Unit tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def test_tables_are_deterministic_per_seed():
    small = {k: max(1, v // 10) for k, v in gen.TABLE_ROWS.items()}
    a, b = gen.make_tables(7, small), gen.make_tables(7, small)
    assert {n: t.to_pylist() for n, t in a.items()} == {
        n: t.to_pylist() for n, t in b.items()
    }
    other = gen.make_tables(8, small)
    assert a["lineitem"].to_pylist() != other["lineitem"].to_pylist()


def test_payloads_are_deterministic_and_windows_agree():
    cities = gen.make_cities(3, 5)
    fc = gen.make_forecasts(3, 5, gen.FORECAST_STEPS + 2)
    assert cities == gen.make_cities(3, 5)
    first, moved = gen.make_payloads(cities, fc, 0), gen.make_payloads(cities, fc, 1)
    assert first == gen.make_payloads(cities, gen.make_forecasts(3, 5, 42), 0)
    # a moved window repeats the overlapping entries exactly
    assert first[2]["list"][1:] == moved[2]["list"][:-1]
    assert moved[2]["list"][-1]["dt"] == first[2]["list"][-1]["dt"] + gen.STEP_S


@pytest.mark.parametrize(
    "n,expect",
    [
        (1, 0.0),
        (10, 4.5),  # too few samples for any tail: the median
        (21, 10.0),  # p50 is the highest with ten beyond
        (22, 11.0),
        (100, 89.0),  # p90
        (1000, 989.0),  # p99
    ],
)
def test_tail_is_highest_percentile_with_ten_beyond(n, expect):
    samples = [float(i) for i in range(n)]
    assert run.tail(list(reversed(samples))) == expect
    if n > 20:
        assert sum(s > run.tail(samples) for s in samples) == 10


def test_digest_ignores_row_and_column_order():
    rows = [{"a": 1, "b": 2.5, "c": "x"}, {"a": None, "b": 0.0, "c": "y"}]
    flipped = [dict(reversed(list(r.items()))) for r in reversed(rows)]
    assert check.digest(rows, ["a", "b", "c"]) == check.digest(
        flipped, ["c", "b", "a"]
    )
    changed = [dict(rows[0], b=2.5000000001), rows[1]]
    assert check.digest(rows, ["a", "b", "c"]) != check.digest(
        changed, ["a", "b", "c"]
    )


def test_oracle_mismatch_reports_a_changed_value():
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("k", T.LongType()),
                           T.StructField("v", T.DoubleType())])
    oracle = pa.table({"k": [1, 2], "v": [0.5, 1.5]})
    rows = [{"k": 2, "v": 1.5}, {"k": 1, "v": 0.5}]
    assert check.oracle_mismatch(schema, rows, oracle) is None
    rows[0]["v"] = 1.25
    assert check.oracle_mismatch(schema, rows, oracle) == "1 rows differ"


def test_raising_op_is_counted_not_propagated():
    class Args:
        workload, seed, seconds, trace = "curation_builder", 0, 1.0, 0

    r = run.Run({}, Args, "unused")

    def boom():
        raise RuntimeError("planted failure")

    secs, err = run.timed(boom)
    r.record("bad_op", secs, err)
    r.record("good_op", *run.timed(lambda: None))
    r.record("bad_op", *run.timed(lambda: None))  # a failed op stays failed
    assert (r.attempted, r.failed) == (3, 2)
    assert r.errors == {"bad_op": "RuntimeError: planted failure"}


def test_weekly_average_matches_hand_computation():
    cities = [{"name": "A", "country": "US", "coord": {"lat": 0.0, "lon": 0.0}}]
    temps = [[273.15 + (s % 3) for s in range(gen.FORECAST_STEPS)]]
    got = check.expected_weekly_avg(cities, temps, 0)
    # WEATHER_EPOCH is Thursday 2023-12-28 (ISO week 52): 32 three-hourly
    # steps fall in week 52, the last 8 in week 1 of 2024
    week52 = [s % 3 for s in range(32)]
    assert got[("US", "A", 52)] == round(sum(week52) / 32, 2)
    assert set(got) == {("US", "A", 52), ("US", "A", 1)}
