"""The ``pipeline`` workload: the reference's own pipeline, deployed the
way a new installation is: one long-lived landing stream first catches
up on a backlog of history, then runs hourly cycles.

- catch-up (``cold_s``): the generator lands days x cities x 24 hours as
  a few large NDJSON files; the stream's first batch appends them and
  does the first-call full-history ``refresh_daily``, then
  ``cleanup_hourly`` and ``compact_hourly`` run. Per-row work dominates
  (JSON parse, day-partitioned write, full rollup); ``ingest_once`` is
  bypassed.
- hourly cycles (``cycle_p50_s``, ``cycle_tail_s``): a simulated clock
  steps one hour per cycle, starting a few hours before midnight so that
  every run crosses one day boundary. Each cycle calls ``ingest_once``
  for the one polled city (the reference polls a single city hourly)
  with an injected fetch returning the generator's payload, then
  publishes the hour's file so ``processAllAvailable()`` commits one
  batch; the first cycle of the new day runs retention first. Per-batch
  fixed costs dominate: a Spark job per single-row ingest, a job per log
  line, the day-scoped refresh re-reading small files, offset/commit log
  writes. ``cycle_p50_s`` is the median of the ordinary hours;
  ``cycle_tail_s`` takes the day-boundary cycle in as well.

The package is driven only through its public functions
(``sources.landing.ingest_once``, ``streaming.pipeline.start_landing_stream``
and ``jobs.WeatherWarehouse``). With tracing on, the warehouse is
``TracedWarehouse``, a subclass that wraps each public job in a span.
"""

from __future__ import annotations

import datetime as dt
import os
import time

from . import checks, gen
from .common import OP_TIMEOUT_S, SPARK_FIELDS, SparkCounters, median, tail

START = dt.date(2024, 3, 1)
RETENTION_DAYS = 5

BACKFILL_DAYS = 10
BACKFILL_CITIES = 100
BACKFILL_FILES = 4

HOURLY_CITIES = 1  # polled live, as in the reference; the first backfilled city
LIVE_START_HOUR = 17  # the live clock's first hour, on the day after the backlog
#: first cycles after the catch-up, not in the stats: cycle times still
#: fall over them as the JVM warms up, by more on a busier host
HOURLY_WARMUP_CYCLES = 4
HOURLY_MIN_CYCLES = 6  # measured: 21:00 to 02:00, one of them the day boundary


def _warehouse_cls(tracer):
    from weather_data_ingestion_gcp_spark.jobs import WeatherWarehouse

    if not tracer.enabled:
        return WeatherWarehouse

    class TracedWarehouse(WeatherWarehouse):
        """Spans around every public job; counts quarantined rows as they
        are logged."""

        quarantined = 0

        def load_and_transform(self, batch):
            with tracer.span("jobs.load_and_transform"):
                return super().load_and_transform(batch)

        def append_hourly(self, batch):
            with tracer.span("jobs.append_hourly"):
                return super().append_hourly(batch)

        def refresh_daily(self, dates=None):
            with tracer.span("jobs.refresh_daily", days=None if dates is None else len(dates)):
                return super().refresh_daily(dates)

        def cleanup_hourly(self, retention_days=15, today=None):
            with tracer.span("jobs.cleanup_hourly"):
                return super().cleanup_hourly(retention_days, today)

        def compact_hourly(self, dates=None):
            with tracer.span("jobs.compact_hourly"):
                return super().compact_hourly(dates)

        def read_daily(self):
            with tracer.span("jobs.read_daily"):
                return super().read_daily()

        def log(self, **fields):
            msg = fields.get("message") or ""
            if fields.get("message_type") == "error" and msg.startswith("quarantined "):
                TracedWarehouse.quarantined += int(msg.split()[1])
            with tracer.span("jobs.log"):
                return super().log(**fields)

    return TracedWarehouse


class _Batches:
    """Non-empty micro-batches of one streaming query, from its progress
    reports (kept across calls, keyed by batch id)."""

    def __init__(self):
        self.progress: dict[int, object] = {}

    def update(self, query) -> None:
        for p in query.recentProgress:
            if p.numInputRows > 0:
                self.progress[p.batchId] = p

    def new_since(self, query, seen: set[int], wait_s: float = 2.0) -> list[int]:
        """Ids of the non-empty batches committed since ``seen``; waits up
        to ``wait_s`` for the progress report of a committed batch."""
        deadline = time.time() + wait_s
        while True:
            self.update(query)
            new = sorted(set(self.progress) - seen)
            if new or time.time() >= deadline:
                return new
            time.sleep(0.05)

    def phase_ms(self, ids: set[int]) -> dict[str, float]:
        """Median duration of each progress phase over the batches ``ids``."""
        keys = {"latestOffset": "latest_offset_ms", "getBatch": "get_batch_ms",
                "queryPlanning": "query_planning_ms", "addBatch": "add_batch_ms",
                "walCommit": "wal_commit_ms", "commitOffsets": "commit_offsets_ms",
                "triggerExecution": "trigger_ms"}
        ps = [p for b, p in self.progress.items() if b in ids]
        return {f"stream.{v}": median([float(p.durationMs.get(k, 0)) for p in ps])
                for k, v in keys.items()}


def _storage_layer(wh_root: str, input_bytes: int) -> dict[str, float]:
    def files(table):
        n, size = 0, 0
        for d, _, fs in os.walk(os.path.join(wh_root, table)):
            for f in fs:
                if not f.startswith((".", "_")):
                    n += 1
                    size += os.path.getsize(os.path.join(d, f))
        return n, size

    h_n, h_b = files("hourly")
    l_n, l_b = files("logs")
    d_n, d_b = files("daily")
    return {
        "storage.hourly_files": float(h_n),
        "storage.log_files": float(l_n),
        "storage.bytes_per_input_byte": (h_b + l_b + d_b) / input_bytes if input_bytes else 0.0,
    }


def _log_counts(wh) -> tuple[int, int, int]:
    """(success rows of load_and_transform, error rows, quarantined rows)
    read back from the log table."""
    rows = wh.read_logs().select("message_type", "process", "message").collect()
    success = sum(1 for r in rows if r.message_type == "success" and r.process == "load_and_transform")
    errors = [r for r in rows if r.message_type == "error"]
    quarantined = sum(int(r.message.split()[1]) for r in errors
                      if (r.message or "").startswith("quarantined "))
    return success, len(errors), quarantined


def _daily_rows(wh) -> list[dict]:
    return [r.asDict() for r in wh.read_daily().collect()]


def _jobs_layer(tracer, spans_in) -> dict[str, float]:
    out = {}
    for name in ("load_and_transform", "append_hourly", "refresh_daily", "log",
                 "cleanup_hourly", "compact_hourly"):
        out[f"jobs.{name}_s"] = median([s["end"] - s["start"] for s in spans_in
                                        if s["name"] == f"jobs.{name}"])
    out["jobs.log_calls"] = float(sum(1 for s in spans_in if s["name"] == "jobs.log"))
    return out


def _spans_within(tracer, t0: float) -> list[dict]:
    return [s for s in tracer.spans if s["start"] >= t0 and s["end"]]


# ---------------------------------------------------------------------------
# the workload
# ---------------------------------------------------------------------------

def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def run_pipeline(ctx) -> dict:
    from pyspark.sql import functions as F
    from weather_data_ingestion_gcp_spark.sources.landing import ingest_once
    from weather_data_ingestion_gcp_spark.streaming.pipeline import start_landing_stream

    spark, tracer, seed = ctx.spark, ctx.tracer, ctx.seed
    root = ctx.scratch
    src, stage, landing = (os.path.join(root, d) for d in ("backfill", "stage", "landing"))
    wh_root = os.path.join(root, "wh")
    os.makedirs(stage)
    os.makedirs(landing)
    t = time.time()
    n_cities = max(int(BACKFILL_CITIES * ctx.scale), HOURLY_CITIES)
    backlog = gen.write_backfill(src, BACKFILL_DAYS, n_cities, BACKFILL_FILES, seed, START)
    ctx.untimed(time.time() - t)
    cities = gen.cities(n_cities, seed)[:HOURLY_CITIES]

    spark.range(1000).selectExpr("sum(id)").collect()  # session warm-up
    ctx.mark_ready()

    wh = _warehouse_cls(tracer)(spark, wh_root)
    counters = SparkCounters(spark, tracer) if tracer.enabled else None
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000")
    batches = _Batches()
    landed = list(backlog)
    live_start = START + dt.timedelta(days=BACKFILL_DAYS)
    cutoffs: list[dt.date] = []
    cycles: list[dict] = []
    problems: list[str] = []
    # the backlog is landed before the stream starts, so it is the
    # stream's first batch whole (untimed: hard links)
    for f in sorted(os.listdir(src)):
        os.link(os.path.join(src, f), os.path.join(landing, f))
    t0 = time.time()
    with tracer.span("stream.start"):
        query = start_landing_stream(spark, landing, wh, os.path.join(root, "ckpt"),
                                     available_now=False)
    try:
        # catch-up: stream start, the backlog batch, retention, compaction
        with tracer.span("catchup"):
            with tracer.span("stream.process_all_available"):
                query.processAllAvailable()
            wh.cleanup_hourly(retention_days=RETENTION_DAYS, today=live_start)
            cutoffs.append(live_start - dt.timedelta(days=RETENTION_DAYS))
            wh.compact_hourly()
        catchup = {"s": time.time() - t0}
        if counters is not None:
            catchup["spark"] = counters.take()
            catchup["spans"] = _spans_within(tracer, t0)
        batches.update(query)
        catchup["batches"] = sorted(batches.progress)

        i = 0
        while True:
            hours = LIVE_START_HOUR + i
            day, hour = live_start + dt.timedelta(days=hours // 24), hours % 24
            obs = [gen.observation(c, day, hour, seed) for c in cities]
            payloads = [gen.weather_payload(o) for o in obs]
            boundary = hour == 0
            seen = set(batches.progress)
            if counters is not None:
                counters.take()  # drop jobs run before the cycle
            t0 = time.time()
            with tracer.span("cycle", index=i):
                if boundary:
                    wh.cleanup_hourly(retention_days=RETENTION_DAYS, today=day)
                    cutoffs.append(day - dt.timedelta(days=RETENTION_DAYS))
                for o, p in zip(obs, payloads):
                    with tracer.span("landing.ingest_once"):
                        ingest_once(spark, lambda p=p: p, stage,
                                    ingest_date=F.lit(o["dt"]).cast("date"),
                                    ingest_time=F.lit(o["current_time"]),
                                    stamp=f"{day:%Y%m%d}-{hour:02d}0000")
                # publish the hour's file: one batch per cycle
                files = sorted(os.listdir(stage))
                for f in files:
                    os.rename(os.path.join(stage, f), os.path.join(landing, f))
                with tracer.span("stream.process_all_available"):
                    query.processAllAvailable()
            rec = {"index": i, "day": day.isoformat(), "hour": hour, "s": time.time() - t0,
                   "t0": t0, "day_boundary": boundary, "files": len(files)}
            landed += obs
            if tracer.enabled:
                rec["spark"] = counters.take()
            # untimed: the batches this cycle committed
            rec["batches"] = batches.new_since(query, seen)
            if len(rec["batches"]) != 1:
                problems.append(f"cycle {i} ({day} {hour:02d}:00) committed "
                                f"{len(rec['batches'])} non-empty batches, not 1")
            cycles.append(rec)
            i += 1
            measured = cycles[HOURLY_WARMUP_CYCLES:]
            if len(measured) >= HOURLY_MIN_CYCLES and any(c["day_boundary"] for c in measured) \
                    and time.time() - ctx.t_ready >= ctx.seconds:
                break
        batches.update(query)
    finally:
        query.stop()

    times = [c["s"] for c in measured]
    ordinary = [c["s"] for c in measured if not c["day_boundary"]]
    tail_v, tail_p, tail_above = tail(times)

    # checks: daily vs the reference rollup, bookkeeping invariants
    cutoff = max(cutoffs)
    expected_raw = sum(1 for o in landed if dt.date.fromisoformat(o["dt"]) > cutoff)
    success, errors, quarantined = _log_counts(wh)
    problems += [f"{name} timed out ({t:.1f}s > {OP_TIMEOUT_S:.0f}s)"
                 for name, t in [("catch-up", catchup["s"])] + [(f"cycle {c['index']}", c["s"])
                                                               for c in cycles]
                 if t > OP_TIMEOUT_S]
    problems += checks.check_daily(_daily_rows(wh), checks.reference_daily(landed))
    problems += checks.check_pipeline(
        raw_rows=wh.read_hourly().count(), expected_raw=expected_raw,
        success_logs=success, nonempty_batches=len(batches.progress),
        error_logs=errors, quarantined=quarantined)

    result = {
        # operations: every batch, the catch-up's retention and compaction,
        # every cycle and the cycles' retention runs
        "attempted": len(batches.progress) + 2 + len(cycles) + sum(c["day_boundary"] for c in cycles),
        "problems": problems,
        "e2e": {"cycle_p50_s": median(ordinary), "cycle_tail_s": tail_v, "cold_s": catchup["s"]},
        "record": {
            "backfill": {"days": BACKFILL_DAYS, "cities": n_cities, "files": BACKFILL_FILES,
                         "rows": len(backlog), "batches": len(catchup["batches"]),
                         "s": round(catchup["s"], 4),
                         "rows_per_s": round(len(backlog) / catchup["s"], 1)},
            "retention_days": RETENTION_DAYS, "cities": HOURLY_CITIES,
            "step_hours": 1, "warmup_cycles": HOURLY_WARMUP_CYCLES,
            "cycles": len(measured), "tail_percentile": tail_p, "tail_samples_above": tail_above,
            "cycle_s": [round(t, 4) for t in times],
            "cycle_hours": [f"{c['day']} {c['hour']:02d}:00" for c in measured],
            "day_boundary_cycle_s": [round(c["s"], 4) for c in measured if c["day_boundary"]],
            "batches_per_cycle": [len(c["batches"]) for c in cycles],
            "files_per_cycle": [c["files"] for c in cycles],
            "warmup_cycle_s": [round(c["s"], 4) for c in cycles[:HOURLY_WARMUP_CYCLES]],
            "rows_landed": len(landed), "batches": len(batches.progress),
        },
    }
    if tracer.enabled:
        spans = _spans_within(tracer, measured[0]["t0"])
        ids = {b for c in measured for b in c["batches"]}
        cu = {s["name"]: s["end"] - s["start"] for s in catchup["spans"]}
        result["layer"] = {
            "landing.ingest_once_s": median([s["end"] - s["start"] for s in spans
                                             if s["name"] == "landing.ingest_once"]),
            "landing.files": float(sum(c["files"] for c in measured)),
            **batches.phase_ms(ids),
            "stream.batches": float(len(ids)),
            "stream.input_rows": float(sum(batches.progress[b].numInputRows for b in ids)),
            **_jobs_layer(tracer, spans),
            "jobs.quarantined_rows": float(wh.quarantined),
            **_storage_layer(wh_root, _dir_bytes(landing)),
            **{f"spark.{k}": median([c["spark"][k] for c in measured]) for k in SPARK_FIELDS},
            "catchup.rows_per_s": len(backlog) / catchup["s"],
            "catchup.add_batch_ms": batches.phase_ms(set(catchup["batches"]))["stream.add_batch_ms"],
            **{f"catchup.{n}_s": cu.get(f"jobs.{n}", 0.0)
               for n in ("append_hourly", "refresh_daily", "cleanup_hourly", "compact_hourly")},
            "catchup.executor_run_s": catchup["spark"]["executor_run_s"],
            "catchup.shuffle_write_mb": catchup["spark"]["shuffle_write_mb"],
            "trace.cycle_p50_s": median(ordinary),
        }
    return result
