"""NDJSON landing zone — the GCS-bucket analog.

The reference lands one NDJSON file per hourly observation in a bucket
(``upload_file_to_gcs``, Load-Data-From-API/main.py:145-152,184-190) and a
GCS object-finalize event triggers the load (main.py:56-64). In Spark the
landing *directory* IS the event source: the Structured Streaming file
source discovers new files exactly once (checkpointed), replacing the whole
Pub/Sub + Cloud Functions event plumbing (SURVEY.md S7/T2).

``ingest_once`` is the S1 ingest function: fetch -> clean -> land. The HTTP
fetch is injected (tests pass a fixture loader; production passes a
``requests`` call) — the engine never hard-codes an endpoint.

Per-cycle job floor: the hourly cycle moves one observation, so its cost
is Spark's fixed per-job cost, not data. ``spark.createDataFrame(list)``
goes through ``sc.parallelize`` and a Python-worker task, and
``toJSON().collect()`` runs a job on top of that. ``local_rows`` builds the
row as a ``LocalRelation`` instead (a ``VALUES`` of JSON literals parsed by
``from_json``), over which Catalyst folds the whole clean into a
``LocalTableScan``: ``ingest_once`` runs **0** Spark jobs (1 before). With
this and the fused counting pass in ``jobs.py``, a traced hourly cycle of
the ``perfbench`` ``pipeline`` workload went from 12 jobs / 17 stages to
9 / 14 (4 vCPUs, ``local[2]``).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections.abc import Callable

from py4j.protocol import Py4JJavaError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..operators.clean import clean_weather
from ..schemas import RAW_API_SCHEMA, WEATHER_SCHEMA
from .connectors import LocalDirObjectStore, ObjectStore


def local_rows(spark: SparkSession, rows: list[dict], schema: StructType) -> DataFrame:
    """Driver-local dicts (at least one) as a DataFrame that no Spark job
    has to produce.

    Each row is one JSON string literal in a ``VALUES`` relation, parsed by
    ``from_json`` in FAILFAST mode: a value that does not fit ``schema``
    (a string or a fraction in a long field) fails the query that reads it,
    while a whole number in a double field is accepted, as JSON allows.
    Keys not in ``schema`` are ignored.
    """
    marks = ", ".join(f"(:r{i})" for i in range(len(rows)))
    args = {f"r{i}": json.dumps(r) for i, r in enumerate(rows)}
    values = spark.sql(f"SELECT * FROM VALUES {marks} AS t(j)", args=args)
    return values.select(
        F.from_json("j", schema, {"mode": "FAILFAST"}).alias("r")
    ).select("r.*")


def write_landing_file(
    spark: SparkSession,
    cleaned: DataFrame,
    landing_dir: "str | ObjectStore",
    stamp: str | None = None,
) -> str:
    """Land a cleaned batch as ONE NDJSON file, named like the reference's
    ``hourly-weather-data-json-{YYYYMMDD-HH:MM:SS}.json`` (main.py:184).

    One file per ingest matches the reference's one-object-per-hour layout
    and gives the streaming file source its per-file exactly-once unit.
    (At 100 TB ingest this becomes one file per task via a normal
    ``df.write.json``; the single-file path is the low-rate API-poll shape.)

    ``landing_dir`` may be an ``ObjectStore`` (the substrate seam — a
    GCS/S3 binding lands the same object with the same atomicity
    contract); a plain directory string binds the local default.
    """
    store = (
        landing_dir
        if isinstance(landing_dir, ObjectStore)
        else LocalDirObjectStore(landing_dir)
    )
    stamp = stamp or time.strftime("%Y%m%d-%H:%M:%S")
    # the reference's names carry ":" (GCS-legal); Hadoop Path URIs reject
    # it, so the physical file uses a sanitized stamp
    stamp = stamp.replace(":", "")
    name = f"hourly-weather-data-json-{stamp}-{uuid.uuid4().hex[:8]}.json"
    # single observation batches: tiny. to_json, not toJSON(): toJSON goes
    # through an RDD and always runs a job; this collect over a local
    # relation runs none
    rows = [r[0] for r in cleaned.select(F.to_json(F.struct("*"))).collect()]
    return store.put(name, "\n".join(rows) + ("\n" if rows else ""))


def ingest_once(
    spark: SparkSession,
    fetch: Callable[[], dict],
    landing_dir: str,
    ingest_date=None,
    ingest_time=None,
    stamp: str | None = None,
) -> str:
    """One reference ingest cycle: S1 fetch -> P1-P4 clean -> S4 land.

    Fields the API sends beyond RAW_API_SCHEMA are dropped, as the
    reference drops them by never reading them. A payload that is not a
    JSON object, or whose values do not fit RAW_API_SCHEMA, raises
    ``ValueError`` and lands nothing.
    """
    payload = fetch()
    if not isinstance(payload, dict):
        raise ValueError(
            f"weather payload is not a JSON object: {type(payload).__name__}"
        )
    raw = local_rows(spark, [payload], RAW_API_SCHEMA)
    cleaned = clean_weather(raw, ingest_date=ingest_date, ingest_time=ingest_time)
    try:
        # the parse runs in the collect, before anything is written
        return write_landing_file(spark, cleaned, landing_dir, stamp=stamp)
    except (PySparkException, Py4JJavaError) as exc:
        # some FAILFAST sub-conditions reach Python as a bare Py4JJavaError
        msg = (exc.java_exception.getMessage() if isinstance(exc, Py4JJavaError)
               else str(exc))
        if "MALFORMED_RECORD_IN_PARSING" not in msg:
            raise
        raise ValueError(f"weather payload does not fit RAW_API_SCHEMA: {msg}") from None


def read_landing(spark: SparkSession, landing_dir: str) -> DataFrame:
    """Schema-pinned batch read of the landing dir (never inferSchema —
    the reference's schema.json is authoritative, SURVEY.md §1.3)."""
    return spark.read.schema(WEATHER_SCHEMA).json(landing_dir)


def stream_landing(
    spark: SparkSession, landing_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """The S7 event source: new files discovered exactly once (with the
    sink's checkpoint), replacing GCS object-finalize events.
    ``max_files_per_trigger=1`` reproduces the reference's one-event-per-
    file processing grain."""
    reader = spark.readStream.schema(WEATHER_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(landing_dir)


def parse_landing_json(text: str) -> dict:
    """Lenient single-record parse (ast.literal_eval analog, P11)."""
    return json.loads(text)
