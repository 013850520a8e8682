"""Output checks. Each returns a list of human-readable problems; an
empty list means the output is correct.

- ``reference_daily`` recomputes the ``daily`` rollup in plain Python
  (exact decimal arithmetic, HALF_UP rounding) from the generator's own
  records, independently of the package; ``check_daily`` compares the
  warehouse's rows with it.
- ``check_pipeline`` holds the bookkeeping invariants: raw rows = landed
  - dropped by retention, one success log row per non-empty batch, no
  error rows and no quarantined rows on clean input.
- ``QueryOracle`` runs each entry's ``ORACLE`` SQL in DuckDB and compares
  with ``tools/parity.py``'s ``normalize_cell``/``rowset`` and its
  type-class rule.
"""

from __future__ import annotations

import datetime as dt
import importlib.util
import os
from decimal import ROUND_HALF_UP, Decimal
from fractions import Fraction

from .common import ROOT

KELVIN = Decimal("273.15")


def _d(x) -> Fraction:
    return Fraction(Decimal(repr(x)))


def _rounded(exact: Fraction, places: int) -> set[float]:
    """Acceptable results of ROUND(x, places) for a value computed in
    double precision whose exact value is ``exact``: the HALF_UP rounding,
    plus the other neighbour when ``exact`` sits within 1e-9 of a tie
    (the engine's accumulation order then decides)."""
    q = Decimal(1).scaleb(-places)
    exact_dec = Decimal(exact.numerator) / Decimal(exact.denominator)
    ok = {float(exact_dec.quantize(q, rounding=ROUND_HALF_UP))}
    scaled = exact * 10 ** places
    frac = scaled - (scaled.numerator // scaled.denominator)
    if abs(frac - Fraction(1, 2)) < Fraction(1, 10 ** 9):
        lo = Fraction(scaled.numerator // scaled.denominator, 10 ** places)
        ok |= {float(lo), float(lo + Fraction(1, 10 ** places))}
    return ok


def reference_daily(records: list[dict]) -> dict[str, dict]:
    """dt -> expected daily row (values as sets of acceptable floats,
    or exact values) from cleaned observation records."""
    by_day: dict[str, list[dict]] = {}
    for r in records:
        by_day.setdefault(r["dt"], []).append(r)
    out = {}
    for day, rows in by_day.items():
        n = len(rows)
        main = [r["main"] for r in rows]

        def avg(vals, shift=Fraction(0)):
            return sum((_d(v) - shift for v in vals), Fraction(0)) / n

        k = Fraction(KELVIN)
        rain1 = [r["rain"]["rain_1h"] for r in rows if r["rain"] and r["rain"]["rain_1h"] is not None]
        rain3 = [r["rain"]["rain_3h"] for r in rows if r["rain"] and r["rain"]["rain_3h"] is not None]
        max_time = max(r["current_time"] for r in rows)
        out[day] = {
            "avg_temp": _rounded(avg([m["temp"] for m in main], k), 2),
            "max_temp": _rounded(max(_d(m["temp_max"]) for m in main) - k, 2),
            "min_temp": _rounded(min(_d(m["temp_min"]) for m in main) - k, 2),
            "feels_like": _rounded(avg([m["feels_like"] for m in main], k), 2),
            "avg_pressure": _rounded(avg([m["pressure"] for m in main]), 0),
            "max_pressure": float(max(m["pressure"] for m in main)),
            "min_pressure": float(min(m["pressure"] for m in main)),
            "avg_humidity": _rounded(avg([m["humidity"] for m in main]), 0),
            "max_humidity": float(max(m["humidity"] for m in main)),
            "min_humidity": float(min(m["humidity"] for m in main)),
            "avg_cloud_coverage": _rounded(avg([r["clouds"]["all"] for r in rows]), 0),
            "max_cloud_coverage": float(max(r["clouds"]["all"] for r in rows)),
            "min_cloud_coverage": float(min(r["clouds"]["all"] for r in rows)),
            "max_rain_1h": max(rain1) if rain1 else None,
            "max_rain_3h": max(rain3) if rain3 else None,
            "month": dt.date.fromisoformat(day).month,
            "till_time": "EOD" if max_time > "23:00:00" else max_time,
        }
    return out


def check_daily(actual: list[dict], expected: dict[str, dict]) -> list[str]:
    """Compare ``daily`` rows (dicts with a ``dt`` key) with the reference."""
    problems = []
    got = {}
    for row in actual:
        day = row["dt"].isoformat() if isinstance(row["dt"], dt.date) else str(row["dt"])
        if day in got:
            problems.append(f"daily: duplicate row for {day}")
        got[day] = row
    for day in sorted(set(expected) - set(got)):
        problems.append(f"daily: missing day {day}")
    for day in sorted(set(got) - set(expected)):
        problems.append(f"daily: unexpected day {day}")
    for day in sorted(set(got) & set(expected)):
        for col, want in expected[day].items():
            have = got[day].get(col)
            ok = (
                any(have is not None and abs(have - w) < 1e-9 for w in want)
                if isinstance(want, set)
                else have == want
            )
            if not ok:
                problems.append(f"daily {day}.{col}: got {have!r}, expected {want!r}")
    return problems


def check_pipeline(*, raw_rows: int, expected_raw: int, success_logs: int,
                   nonempty_batches: int, error_logs: int, quarantined: int) -> list[str]:
    problems = []
    if raw_rows != expected_raw:
        problems.append(f"raw rows {raw_rows} != landed - dropped {expected_raw}")
    if success_logs != nonempty_batches:
        problems.append(f"success log rows {success_logs} != non-empty batches {nonempty_batches}")
    if error_logs:
        problems.append(f"{error_logs} error log rows on clean input")
    if quarantined:
        problems.append(f"{quarantined} quarantined rows on clean input")
    return problems


# ---------------------------------------------------------------------------
# query oracles
# ---------------------------------------------------------------------------

def _load_parity():
    path = os.path.join(ROOT, "tools", "parity.py")
    spec = importlib.util.spec_from_file_location("perfbench_parity", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


class QueryOracle:
    """DuckDB answers for the mix over one table directory, computed once
    and compared with every Spark result."""

    def __init__(self, tables_dir: str, oracles: dict[str, str]):
        import duckdb

        self.parity = _load_parity()
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
        self.oracles = oracles
        self._expected: dict[str, tuple] = {}

    def expected(self, name: str) -> tuple:
        if name not in self._expected:
            sql = self.oracles[name]
            types = {r[0]: r[1] for r in self.con.execute(f"DESCRIBE {sql}").fetchall()}
            rel = self.con.execute(sql)
            cols = [d[0] for d in rel.description]
            self._expected[name] = (types, *self.parity.rowset(cols, rel.fetchall()))
        return self._expected[name]

    def check(self, name: str, arrow_table, spark_types: dict[str, str]) -> list[str]:
        from weather_data_ingestion_gcp_spark.plans.registry import type_class

        d_types, d_cols, d_rows = self.expected(name)
        bad_types = [
            (c, s, d_types[c]) for c, s in spark_types.items()
            if c in d_types and type_class(s) != type_class(d_types[c])
        ]
        if bad_types:
            return [f"{name}: type-class mismatch {bad_types}"]
        cols = arrow_table.column_names
        rows = list(zip(*(arrow_table.column(i).to_pylist() for i in range(len(cols)))))
        s_cols, s_rows = self.parity.rowset(cols, rows)
        if s_cols != d_cols:
            return [f"{name}: columns {s_cols} != oracle {d_cols}"]
        if len(s_rows) != len(d_rows):
            return [f"{name}: {len(s_rows)} rows != oracle {len(d_rows)}"]
        if s_rows != d_rows:
            diffs = [(a, b) for a, b in zip(s_rows, d_rows) if a != b][:2]
            return [f"{name}: values differ from oracle, first {diffs}"]
        return []

    def close(self) -> None:
        self.con.close()
