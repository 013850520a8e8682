"""Deterministic input generators for the benchmark workloads.

Everything here is plain Python / numpy / pyarrow: generation is never
timed, and the program under test only ever sees the files (or fetch
payloads) produced here. The same seed gives byte-identical inputs.

- ``observation`` / ``weather_payload``: one city's observation for one
  simulated hour, as the cleaned landing row (written by the backlog
  generator) and as the upstream API payload whose clean yields that row
  (fed to ``ingest_once`` through an injected fetch), so the reference
  rollup in ``checks.py`` can be computed from the generator's own
  records.
- ``write_backfill``: days x cities x 24 hours of cleaned rows as a few
  large NDJSON files.
- ``write_query_tables``: the star-schema + events/documents/embeddings
  tables the query mix reads, shaped like the suite's own test data
  (same columns, types, vocabularies and value ranges).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

_WEATHER_KINDS = [
    (800, "Clear", "clear sky"),
    (801, "Clouds", "few clouds"),
    (802, "Clouds", "scattered clouds"),
    (500, "Rain", "light rain"),
    (701, "Mist", "mist"),
]


def cities(n: int, seed: int) -> list[dict]:
    """``n`` distinct synthetic cities with fixed coordinates/offsets."""
    rng = random.Random(seed * 7919 + 1)
    return [
        {
            "name": f"City{i:03d}",
            "lon": round(rng.uniform(-180, 180), 4),
            "lat": round(rng.uniform(-60, 70), 4),
            "country": rng.choice(["IN", "US", "DE", "BR", "JP"]),
            "timezone": rng.choice([-18000, 0, 3600, 19800, 32400]),
            "base_k": rng.uniform(270.0, 305.0),
        }
        for i in range(n)
    ]


def observation(city: dict, day: dt.date, hour: int, seed: int) -> dict:
    """The cleaned (WEATHER_SCHEMA-shaped) observation for one city-hour.
    Seeded per (seed, city, day, hour) so any subset regenerates
    identically regardless of generation order."""
    rng = random.Random(f"{seed}|{city['name']}|{day.isoformat()}|{hour}")
    temp = round(city["base_k"] + 4.0 * ((hour - 12) / 12.0) + rng.uniform(-2, 2), 2)
    wid, wmain, wdesc = _WEATHER_KINDS[rng.randrange(len(_WEATHER_KINDS))]
    rain = (
        {"rain_1h": round(rng.uniform(0.1, 6.0), 2), "rain_3h": None}
        if wmain == "Rain"
        else None
    )
    return {
        "coordinate": {"longitude": city["lon"], "latitude": city["lat"]},
        "weather": {"id": wid, "main": wmain, "description": wdesc},
        "base": "stations",
        "main": {
            "temp": temp,
            "feels_like": round(temp + rng.uniform(-3, 3), 2),
            "pressure": rng.randint(990, 1030),
            "humidity": rng.randint(20, 100),
            "temp_min": round(temp - rng.uniform(0, 2), 2),
            "temp_max": round(temp + rng.uniform(0, 2), 2),
            "sea_level": rng.randint(1000, 1030),
            "ground_level": rng.randint(900, 1010),
        },
        "visibility": rng.choice([6000, 8000, 10000]),
        "wind": {
            "speed": round(rng.uniform(0, 12), 2),
            "degree": rng.randrange(360),
            "gust": round(rng.uniform(0, 20), 2) if rng.random() < 0.3 else None,
        },
        "clouds": {"all": rng.randint(0, 100)},
        "rain": rain,
        "snow": None,
        "dt": day.isoformat(),
        "current_time": f"{hour:02d}:{rng.randrange(60):02d}:{rng.randrange(60):02d}",
        "sys": {"country": city["country"], "sunrise": 1700000000, "sunset": 1700040000},
        "timezone": city["timezone"],
        "name": city["name"],
    }


def weather_payload(obs: dict) -> dict:
    """The upstream API payload whose clean yields ``obs`` (minus the
    ingest-stamped dt/current_time, which the caller injects)."""
    m, w = obs["main"], obs["wind"]
    return {
        "coord": {"lon": obs["coordinate"]["longitude"], "lat": obs["coordinate"]["latitude"]},
        "weather": [dict(obs["weather"])],
        "base": obs["base"],
        "main": {
            "temp": m["temp"], "feels_like": m["feels_like"],
            "pressure": m["pressure"], "humidity": m["humidity"],
            "temp_min": m["temp_min"], "temp_max": m["temp_max"],
            "sea_level": m["sea_level"], "grnd_level": m["ground_level"],
        },
        "visibility": obs["visibility"],
        "wind": {"speed": w["speed"], "deg": w["degree"], "gust": w["gust"]},
        "clouds": dict(obs["clouds"]),
        "rain": {"1h": obs["rain"]["rain_1h"], "3h": obs["rain"]["rain_3h"]} if obs["rain"] else None,
        "snow": None,
        "dt": 1700000000,
        "sys": dict(obs["sys"]),
        "timezone": obs["timezone"],
        "name": obs["name"],
        "id": 1234567,  # extra API field the ingest drops
        "cod": 200,
    }


def write_backfill(
    landing_dir: str, n_days: int, n_cities: int, n_files: int, seed: int,
    start: dt.date = dt.date(2024, 3, 1),
) -> list[dict]:
    """Write ``n_days`` x ``n_cities`` x 24 cleaned rows as ``n_files``
    NDJSON files (day-contiguous slices) and return the records."""
    os.makedirs(landing_dir, exist_ok=True)
    cs = cities(n_cities, seed)
    records = [
        observation(c, start + dt.timedelta(days=d), h, seed)
        for d in range(n_days)
        for h in range(24)
        for c in cs
    ]
    per = -(-len(records) // n_files)
    for i in range(n_files):
        chunk = records[i * per:(i + 1) * per]
        if not chunk:
            break
        path = os.path.join(landing_dir, f"backfill-{seed}-{i:03d}.json")
        with open(path + ".tmp", "w") as f:
            f.write("\n".join(json.dumps(r) for r in chunk) + "\n")
        os.rename(path + ".tmp", path)
    return records


# ---------------------------------------------------------------------------
# query-mix tables
# ---------------------------------------------------------------------------

#: Per-table row counts (the suite's sf0.01 sizes).
QUERY_SIZES = {
    "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
    "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500,
}
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
_LANGS = (["en"] * 42) + (["zh"] * 15) + (["es"] * 15) + (["de"] * 14) + (["fr"] * 14)


def write_query_tables(out_dir: str, seed: int, scale: float = 1.0) -> dict[str, int]:
    """Write the ten suite tables as parquet under ``out_dir``; returns
    the row count per table. ``scale`` multiplies every non-dimension
    size (tests use a fraction)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = {k: max(int(v * scale), 20) for k, v in QUERY_SIZES.items()}

    def ts_col(days_lo: dt.date, days_span: int, size: int, micros: bool = False):
        base = np.datetime64(days_lo.isoformat(), "us")
        if micros:
            off = rng.integers(0, days_span * 86_400_000_000, size=size)
            off.sort()
        else:
            off = rng.integers(0, days_span, size=size) * 86_400_000_000
        return pa.array(base + off.astype("timedelta64[us]"), pa.timestamp("us"))

    def money(lo, hi, size):
        return np.round(rng.uniform(lo, hi, size=size), 2)

    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
            "c_acctbal": money(-999.99, 9999.99, n["customer"]),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n["customer"]),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
            "s_acctbal": money(-999.99, 9999.99, n["supplier"]),
        }),
        "part": pa.table({
            "p_partkey": np.arange(n["part"], dtype=np.int64),
            "p_name": [
                f"{a} {b}" for a, b in zip(
                    rng.choice(["blue", "cold", "hot", "large", "new", "old", "red", "small"], n["part"]),
                    rng.choice(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"], n["part"]),
                )
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
            "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n["part"]),
            "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
            "p_retailprice": np.round(900.0 + 0.1 * np.arange(n["part"]), 2),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n["orders"], dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], n["orders"]),
            "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
            "o_totalprice": money(1000.0, 500000.0, n["orders"]),
            "o_orderdate": ts_col(dt.date(1995, 1, 1), 2404, n["orders"]),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n["orders"]),
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n["orders"], n["lineitem"]),
            "l_partkey": rng.integers(0, n["part"], n["lineitem"]),
            "l_suppkey": rng.integers(0, n["supplier"], n["lineitem"]),
            "l_linenumber": rng.integers(1, 8, n["lineitem"]).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(np.float64),
            "l_extendedprice": money(900.0, 105000.0, n["lineitem"]),
            "l_discount": rng.integers(0, 11, n["lineitem"]) / 100.0,
            "l_tax": rng.integers(0, 9, n["lineitem"]) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n["lineitem"]),
            "l_linestatus": rng.choice(["F", "O"], n["lineitem"]),
            "l_shipdate": ts_col(dt.date(1995, 1, 2), 2498, n["lineitem"]),
        }),
        "events": pa.table({
            "event_id": np.arange(n["events"], dtype=np.int64),
            "ts": ts_col(dt.date(2024, 1, 1), 30, n["events"], micros=True),
            "user_id": rng.integers(0, max(n["events"] // 66, 2), n["events"]),
            "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n["events"]),
            "value": np.maximum(np.round(rng.exponential(50.0, n["events"]), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])],
        }),
    }

    # documents: uniform words over the suite's 30-word vocabulary; one in
    # twenty is a near-copy of an earlier document (a trailing "dup"
    # token), the structure the minhash/LSH family clusters. The count is
    # fixed so every seed gives the same amount of near-dup work.
    n_docs = n["documents"]
    copies = set(rng.choice(np.arange(10, n_docs), size=n_docs // 20, replace=False).tolist())
    texts: list[str] = []
    for i in range(n_docs):
        if i in copies:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_VOCAB, int(rng.integers(10, 100)))))
    tables["documents"] = pa.table({
        "doc_id": np.arange(n["documents"], dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n["documents"]),
        "source": [f"src{i % 20}" for i in range(n["documents"])],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    # embeddings: 64-dim unit vectors, 10 labels
    x = rng.normal(size=(n["embeddings"], 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n["embeddings"], dtype=np.int64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n["embeddings"]).astype(np.int32),
    })

    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {k: t.num_rows for k, t in tables.items()}
