"""Warehouse jobs: the reference's four Cloud Functions as Spark batch jobs
over a partitioned parquet warehouse.

Layout (all paths under one warehouse root):
- ``hourly/``  — raw observations, **partitioned by dt** (the reference
  leaves its raw table unpartitioned, Load-gcs-to-bq/main.py:74-77; at the
  100 TB design point day-partitioning is what makes the daily rollup, the
  day-scoped refresh, and retention all partition-pruned / metadata-only).
- ``daily/``   — the rollup, partitioned by (month, dt): month preserves
  the reference's PARTITION BY DATE_TRUNC(dt, MONTH) grain
  (sp_...create...sql:22-23) for month-range scans, the nested dt level
  gives the delete-today-+-reinsert upsert (sp_...update...sql:2-5) exact
  per-day dynamic-partition-overwrite semantics.
- ``logs/``    — op log rows, partitioned log_type/message_type
  (Load-logs/main.py:48-50).

Sequencing note: the reference submits the BigQuery load job and CALLs the
transform without awaiting the load (T10 race, Load-gcs-to-bq/main.py:79-92);
here append-then-refresh is sequential by construction — an intentional fix.

Per-cycle job floor: an hourly micro-batch carries one row, so its cost is
the number of Spark jobs it schedules, not the data. ``log`` builds its row
with ``sources.landing.local_rows`` (a ``LocalRelation``), not
``createDataFrame([Row])``, whose ``sc.parallelize`` starts a Python-worker
task per call; its one job is the JSON write. ``load_and_transform`` learns
"empty? how many corrupt rows? which days?" from one ``groupBy("dt")``
count instead of an ``isEmpty``, a null-``dt`` count and a distinct-days
collect. A traced hourly cycle of the ``perfbench`` ``pipeline`` workload
went from 12 jobs / 17 stages to 9 / 14 (4 vCPUs, ``local[2]``); 2 of
the 9 are the rollup's ORDER BY range exchange in the day-scoped refresh.
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.rollup import daily_rollup
from .schemas import LOG_SCHEMA, WEATHER_SCHEMA
from .sources.connectors import ParquetTableStorage, TableStorage
from .sources.landing import local_rows


class WeatherWarehouse:
    """Jobs depend only on the ``TableStorage`` seam — the default is the
    partitioned-parquet binding, and a BigQuery-backed implementation
    (the reference's actual substrate, Load-gcs-to-bq/main.py:71-84)
    slots in via the ``storage`` argument without touching this class
    (see sources/connectors.py)."""

    def __init__(self, spark: SparkSession, root: str,
                 storage: TableStorage | None = None):
        self.spark = spark
        self.root = root
        self.storage = storage or ParquetTableStorage(spark, root)
        self.hourly_path = os.path.join(root, "hourly")
        self.daily_path = os.path.join(root, "daily")
        self.logs_path = os.path.join(root, "logs")

    # -- raw layer ----------------------------------------------------------

    def append_hourly(self, batch: DataFrame) -> None:
        """S8: append-load into the raw table (WRITE_APPEND,
        Load-gcs-to-bq/main.py:77), day-partitioned."""
        self.storage.append(batch, "hourly", ["dt"])

    def read_hourly(self) -> DataFrame:
        if not self.storage.exists("hourly"):
            return self.spark.createDataFrame([], WEATHER_SCHEMA)
        # dt is the partition column — Spark matches it by name in the schema
        return self.storage.read(self.spark, "hourly", schema=WEATHER_SCHEMA)

    # -- daily layer ----------------------------------------------------------

    def refresh_daily(self, dates: list[dt.date] | None = None) -> None:
        """S10/S11/S12: recompute the daily rollup.

        - first call (table absent) = the CREATE stored procedure: full
          history (sp_...create...sql:24-55);
        - later calls = the UPDATE procedure: recompute only the affected
          days and dynamic-partition-overwrite exactly those (month, dt)
          partitions — the delete+insert upsert without a DELETE-capable
          format (sp_...update...sql:2-36).
        """
        hourly = self.read_hourly()
        if dates is not None and self.storage.exists("daily"):
            hourly = hourly.filter(F.col("dt").isin(list(dates)))
        out = daily_rollup(hourly).withColumn("part_month", F.trunc("dt", "month"))
        # dynamic overwrite: only the written (month, dt) days are replaced
        self.storage.overwrite_partitions(out, "daily", ["part_month", "dt"])

    def read_daily(self) -> DataFrame:
        return self.storage.read(self.spark, "daily").drop("part_month")

    # -- retention ------------------------------------------------------------

    def cleanup_hourly(self, retention_days: int = 15, today: dt.date | None = None) -> list[str]:
        """S13/T8: DELETE WHERE dt <= today - retention_days
        (Cleanup-job/sp_raw_cleanup_15days_older_data_query.sql:2).

        Day-partitioned raw layer makes this a metadata-only partition drop
        (what Delta's DELETE on a partition predicate compiles to) — O(days
        dropped), never a 100 TB rewrite.
        """
        today = today or dt.date.today()
        cutoff = today - dt.timedelta(days=retention_days)
        dropped = []
        hourly = self.read_hourly()
        old = [r.dt for r in hourly.select("dt").distinct().collect() if r.dt <= cutoff]
        for day in old:
            if self.storage.drop_partition("hourly", f"dt={day}"):
                dropped.append(str(day))
        return dropped

    def compact_hourly(self, dates: list[dt.date] | None = None) -> None:
        """Small-file compaction: the hourly layer accretes one file per
        landed batch per day; at 100 TB that is millions of KB-files whose
        open/footer cost dominates scans. Rewrite each (selected) day
        partition in one pass: repartition by dt clusters each day into one
        task, dynamic partition overwrite swaps only the rewritten days —
        concurrent readers of other days are untouched."""
        hourly = self.read_hourly()
        if dates is not None:
            hourly = hourly.filter(F.col("dt").isin(list(dates)))
        self.storage.overwrite_partitions(hourly.repartition("dt"), "hourly", ["dt"])

    # -- log sink ---------------------------------------------------------------

    def log(self, **fields) -> None:
        """S5/S15: structured op-log row -> partitioned log table
        (MESSAGE_DATA template, Load-Data-From-API/main.py:32-38; sink
        partitioning Load-logs/main.py:48-50)."""
        base = {f.name: None for f in LOG_SCHEMA.fields}
        base.update(
            project="local",
            service="spark-job",
            runtime=dt.datetime.now().strftime("%Y%m%d-%H:%M:%S"),
        )
        base.update(fields)
        self.storage.append(
            local_rows(self.spark, [base], LOG_SCHEMA),
            "logs", ["log_type", "message_type"], fmt="json",
        )

    def read_logs(self) -> DataFrame:
        return self.storage.read(self.spark, "logs", schema=LOG_SCHEMA, fmt="json")

    # -- the load+transform entry point (main_gcs analog) ---------------------

    def load_and_transform(self, batch: DataFrame) -> None:
        """Entry point 2 (Load-gcs-to-bq/main.py:56-110): append raw, then
        refresh exactly the affected days, then log — sequential, fixing the
        reference's unawaited-load race (T10); errors become error-log rows
        (P16) and re-raise.

        Data-level errors (a corrupt NDJSON line parses to an all-null row
        under PERMISSIVE mode — null ``dt`` being the tell, since every
        valid ingest stamps it) are quarantined: counted into an error-log
        row instead of polluting the warehouse with a null partition.

        One counting pass over the cached batch answers everything the
        body needs before it writes: no ``dt`` keys = empty batch (nothing
        written or logged), the null key = the quarantine count, the other
        keys = the days to refresh.
        """
        # two passes: count + append; unpersist this handle, not the
        # filtered one below, which no cache entry matches
        cached = batch = batch.cache()
        try:
            counts = {r.dt: r["count"] for r in batch.groupBy("dt").count().collect()}
            n_corrupt = counts.pop(None, 0)
            if n_corrupt:
                self.log(
                    log_type="bq-load-logging",
                    message_type="error",
                    process="load_and_transform",
                    message=f"quarantined {n_corrupt} corrupt row(s) (null dt)",
                )
                batch = batch.filter(F.col("dt").isNotNull())
            if not counts:
                return
            self.append_hourly(batch)
            dates = sorted(counts)
            self.refresh_daily(dates)
            self.log(
                log_type="bq-load-logging",
                message_type="success",
                process="load_and_transform",
                message=f"loaded {len(dates)} day(s)",
            )
        except Exception as exc:
            self.log(
                log_type="bq-load-logging",
                message_type="error",
                process="load_and_transform",
                message=str(exc)[:1000],
            )
            raise
        finally:
            cached.unpersist()

