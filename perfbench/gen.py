"""Seeded input generators: the star-schema tables the registry queries
read, and OpenWeatherMap forecast payloads for the weather ETL.

The tables follow the shapes of the engine's synthetic test data
(FIXTURES.md section B): independent uniform columns over the same value
domains, one parquet row group per table, and a documents corpus with 5%
planted near-duplicates (a copy of another document plus one token) and a
few exact duplicates, so every dedup row has pairs to find.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per table: the sf0.01 shape of the synthetic test data (TESTDATA.md).
TABLE_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
EVENT_USERS = 150
EMBED_DIM = 64

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)

_US_PER_DAY = 86_400_000_000


def _days(rng: np.random.Generator, n: int, lo: dt.date, hi: dt.date) -> np.ndarray:
    """``n`` uniform dates in [lo, hi] as microsecond timestamps."""
    span = (hi - lo).days + 1
    base = (lo - dt.date(1970, 1, 1)).days
    return (base + rng.integers(0, span, n)) * _US_PER_DAY


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random token texts; exactly 5% are near-duplicates (an earlier
    document plus one token) and 0.2% exact duplicates, so every seed
    gives the dedup rows the same amount of work."""
    kind = np.zeros(n, np.int8)
    planted = rng.choice(np.arange(1, n), n // 20 + n // 500, replace=False)
    kind[planted[: n // 20]] = 1
    kind[planted[n // 20:]] = 2
    texts: list[str] = []
    for i in range(n):
        if kind[i]:
            src = texts[rng.integers(i)]
            texts.append(src + " dup" if kind[i] == 1 else src)
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P).tolist(),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def make_tables(seed: int, rows: dict[str, int] = TABLE_ROWS) -> dict[str, pa.Table]:
    """Every table the registry reads, generated from ``seed`` alone."""
    rng = np.random.default_rng(seed)
    n = rows
    nc, ns, npart, no, nl = (
        n["customer"], n["supplier"], n["part"], n["orders"], n["lineitem"]
    )
    events_ts = np.sort(
        dt.datetime(2024, 1, 1).timestamp() * 1e6
        + rng.uniform(0, 30 * 86_400e6, n["events"])
    ).astype(np.int64)
    emb = rng.standard_normal((n["embeddings"], EMBED_DIM)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    return {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(nc), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(nc)],
                "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, nc),
                "c_mktsegment": rng.choice(SEGMENTS, nc).tolist(),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(ns), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
                "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, ns),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(npart), pa.int64()),
                "p_name": [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in rng.integers(0, 8, (npart, 2))
                ],
                "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
                "p_type": rng.choice(PART_TYPES, npart).tolist(),
                "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
                "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(no), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
                "o_orderstatus": rng.choice(("F", "O", "P"), no).tolist(),
                "o_totalprice": _money(rng, 1000, 500000, no),
                "o_orderdate": _ts(
                    _days(rng, no, dt.date(1995, 1, 1), dt.date(2001, 8, 1))
                ),
                "o_orderpriority": rng.choice(PRIORITIES, no).tolist(),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
                "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
                "l_extendedprice": _money(rng, 900, 105000, nl),
                "l_discount": rng.integers(0, 11, nl) / 100,
                "l_tax": rng.integers(0, 9, nl) / 100,
                "l_returnflag": rng.choice(("A", "N", "R"), nl).tolist(),
                "l_linestatus": rng.choice(("F", "O"), nl).tolist(),
                "l_shipdate": _ts(
                    _days(rng, nl, dt.date(1995, 1, 2), dt.date(2001, 11, 4))
                ),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(n["events"]), pa.int64()),
                "ts": _ts(events_ts),
                "user_id": pa.array(
                    rng.integers(0, EVENT_USERS, n["events"]), pa.int64()
                ),
                "event_type": rng.choice(EVENT_TYPES, n["events"]).tolist(),
                "value": np.round(rng.exponential(50.0, n["events"]), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])],
            }
        ),
        "documents": _documents(rng, n["documents"]),
        "embeddings": pa.table(
            {
                "vec_id": pa.array(np.arange(n["embeddings"]), pa.int64()),
                "embedding": pa.array(list(emb), pa.list_(pa.float32())),
                "label": pa.array(rng.integers(0, 10, n["embeddings"]), pa.int32()),
            }
        ),
    }


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One file and one row group per table, as the test data has."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(
            table, os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=max(1, table.num_rows),
        )


# --- weather -------------------------------------------------------------

COUNTRIES = ("AU", "BR", "CA", "DE", "FR", "GB", "IN", "JP", "MX", "US")
DESCRIPTIONS = (
    "clear sky", "few clouds", "scattered clouds", "broken clouds",
    "overcast clouds", "light rain", "moderate rain", "light snow",
)
FORECAST_STEPS = 40  # 5 days of three-hourly entries per payload
STEP_S = 3 * 3600
# 2023-12-28 00:00 UTC: the forecast windows cross the ISO-year boundary
WEATHER_EPOCH = 1703721600


def make_cities(seed: int, n: int) -> list[dict]:
    rng = np.random.default_rng([seed, 1])
    return [
        {
            "name": f"City_{i:05d}",
            "country": COUNTRIES[int(c)],
            "coord": {"lat": float(lat), "lon": float(lon)},
        }
        for i, (c, lat, lon) in enumerate(
            zip(
                rng.integers(0, len(COUNTRIES), n),
                np.round(rng.uniform(-60, 70, n), 4),
                np.round(rng.uniform(-180, 180, n), 4),
            )
        )
    ]


def make_forecasts(seed: int, n_cities: int, n_steps: int) -> dict[str, np.ndarray]:
    """Every city's forecast at every three-hourly step, as arrays of shape
    ``(n_cities, n_steps)``. Overlapping batch windows read the same
    cells, so they agree on every key."""
    rng = np.random.default_rng([seed, 2])
    shape = (n_cities, n_steps)
    return {
        "temp": np.round(rng.uniform(255.0, 305.0, shape), 2),
        "humidity": rng.integers(10, 101, shape),
        "speed": np.round(rng.uniform(0.0, 20.0, shape), 2),
        "desc": rng.integers(0, len(DESCRIPTIONS), shape),
    }


def make_payloads(
    cities: list[dict], forecasts: dict[str, np.ndarray], first_step: int
) -> list[dict]:
    """One forecast payload per city covering steps
    ``first_step .. first_step + 39``: an hourly batch whose window moved
    ``first_step`` steps since the full load."""
    steps = range(first_step, first_step + FORECAST_STEPS)
    temp, hum, speed, desc = (
        forecasts[k].tolist() for k in ("temp", "humidity", "speed", "desc")
    )
    return [
        {
            "list": [
                {
                    "dt": WEATHER_EPOCH + s * STEP_S,
                    "main": {"temp": temp[i][s], "humidity": hum[i][s]},
                    "wind": {"speed": speed[i][s]},
                    "weather": [{"description": DESCRIPTIONS[desc[i][s]]}],
                }
                for s in steps
            ],
            "city": city,
        }
        for i, city in enumerate(cities)
    ]
