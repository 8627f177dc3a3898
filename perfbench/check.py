"""Output checks, made outside the timed section.

Registry ops are compared with their DuckDB oracle the way
``scripts/driver_mirror.py`` compares them (typed schema, row count,
order-independent bit-exact values). Rows-only ops have no oracle: their
row count and digest must repeat across two executions. The weather ETL is
checked against values the generator computes in Python.
"""

from __future__ import annotations

import datetime as dt
import decimal
import functools
import hashlib
import importlib.util
import math
import os
from collections import defaultdict

from weather_data_data_pipeline_spark.oracle_types import type_mismatches

from gen import FORECAST_STEPS, STEP_S, WEATHER_EPOCH


@functools.cache
def mirror():
    """``scripts/driver_mirror.py``, whose ``norm`` and ``_sort_key`` are
    the repository's definition of an order-independent result compare."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "driver_mirror", os.path.join(root, "scripts", "driver_mirror.py")
    )
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def normalized_rows(rows: list, cols: list[str]) -> list[tuple]:
    m = mirror()
    return sorted(
        (tuple(m.norm(r[c]) for c in cols) for r in rows), key=m._sort_key
    )


def digest(rows: list, cols: list[str]) -> str:
    """Digest of a result that does not depend on row or column order."""
    cols = sorted(cols)
    h = hashlib.sha256(repr(cols).encode())
    for r in normalized_rows(rows, cols):
        h.update(repr(r).encode())
    return h.hexdigest()


def oracle_results(data_dir: str, tables: tuple[str, ...], sql: dict[str, str]):
    """Run each oracle query in DuckDB over the generated parquet files."""
    import duckdb

    with duckdb.connect() as con:
        for t in tables:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(data_dir, t)}.parquet')"
            )
        return {name: con.execute(q).arrow() for name, q in sql.items()}


def oracle_mismatch(df_schema, rows: list, oracle_tbl) -> str | None:
    """Why a Spark result differs from its oracle, or None if it matches."""
    cols = sorted(f.name for f in df_schema.fields)
    o_cols = sorted(oracle_tbl.schema.names)
    if o_cols != cols:
        return f"columns spark={cols} oracle={o_cols}"
    tmis = type_mismatches(df_schema, oracle_tbl.schema, cols)
    if tmis:
        return f"types {tmis}"
    mine = normalized_rows(rows, cols)
    theirs = normalized_rows(oracle_tbl.to_pylist(), cols)
    if len(mine) != len(theirs):
        return f"rows spark={len(mine)} oracle={len(theirs)}"
    bad = sum(a != b for a, b in zip(mine, theirs))
    return f"{bad} rows differ" if bad else None


# --- weather ---------------------------------------------------------------


def _round2(x: float) -> float:
    """Spark's ``round(x, 2)``: half-up on the decimal rendering."""
    return float(
        decimal.Decimal(repr(x)).quantize(
            decimal.Decimal("0.01"), rounding=decimal.ROUND_HALF_UP
        )
    )


def expected_weekly_avg(
    cities: list[dict], temps: list[list[float]], first_step: int
) -> dict[tuple[str, str, int], float]:
    """The weekly-average report of one batch, computed in Python:
    average of the rounded Celsius temperature per (country, city, ISO
    week), rounded to 2 places."""
    acc: dict[tuple[str, str, int], list[float]] = defaultdict(list)
    for i, city in enumerate(cities):
        for s in range(first_step, first_step + FORECAST_STEPS):
            day = dt.datetime.fromtimestamp(
                WEATHER_EPOCH + s * STEP_S, dt.timezone.utc
            )
            key = (city["country"], city["name"], day.isocalendar()[1])
            acc[key].append(_round2(temps[i][s] - 273.15))
    return {k: _round2(math.fsum(v) / len(v)) for k, v in acc.items()}


def weekly_avg_mismatch(
    expected: list[dict[tuple[str, str, int], float]], report_rows: list
) -> str | None:
    """Compare the appended report (one block per batch) with the Python
    values. Spark averages in its own summation order, so a value may land
    on the other side of a rounding boundary: allow one cent."""
    want = sorted((k, v) for block in expected for k, v in block.items())
    got = sorted(
        ((r["country"], r["city"], r["week"]), r["average_temperature"])
        for r in report_rows
    )
    if len(want) != len(got):
        return f"weekly report rows spark={len(got)} python={len(want)}"
    for (wk, wv), (gk, gv) in zip(want, got):
        if wk != gk or abs(wv - gv) > 0.01 + 1e-9:
            return f"weekly report {gk}={gv} python {wk}={wv}"
    return None
