"""The ``query_mix`` workload: the registry entries in ``metrics.MIX``,
in registry order, over tables generated from the seed. One cold pass,
then warm passes; each entry is timed the way ``bench.py`` times it
(the call that returns the DataFrame, then ``toArrow``), split into the
build and the execution, and its result is checked against the entry's
DuckDB oracle on every pass."""

from __future__ import annotations

import os
import time

from . import gen
from .checks import QueryOracle
from .common import OP_TIMEOUT_S, SPARK_FIELDS, SparkCounters, catalyst_phases, median, storage_info, tail
from .metrics import MIX

#: warm passes run until the run's seconds are used, at least this many
MIN_WARM_PASSES = 2


def _pass(ctx, queries, names, tables, oracle, counters, problems) -> dict:
    tracer = ctx.tracer
    entries = {}
    failed = 0
    if counters is not None:
        counters.take()  # drop jobs run before the pass
    t_pass = time.time()
    with tracer.span("pass"):
        for name in names:
            t0 = time.time()
            try:
                with tracer.span(f"query.{name}.build"):
                    df = queries[name](ctx.spark, tables)
                t1 = time.time()
                with tracer.span(f"query.{name}.exec"):
                    at = df.toArrow()
                t2 = time.time()
            except Exception as exc:  # noqa: BLE001 — a failing entry is counted, the mix goes on
                problems.append(f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
                failed += 1
                entries[name] = {"error": True, "s": time.time() - t0}
                continue
            rec = {"build_s": t1 - t0, "exec_s": t2 - t1, "s": t2 - t0, "rows": at.num_rows}
            # untimed from here: oracle check and, when tracing, layer reads
            t_un = time.time()
            with tracer.span("check"):
                bad = oracle.check(name, at,
                                   {f.name: f.dataType.simpleString() for f in df.schema.fields})
            if t2 - t0 > OP_TIMEOUT_S:
                bad.append(f"{name}: timed out ({t2 - t0:.1f}s > {OP_TIMEOUT_S:.0f}s)")
            if bad:
                problems.extend(bad)
                failed += 1
            if tracer.enabled:
                rec["catalyst"] = catalyst_phases(df)
                rec["cache"] = storage_info(ctx.spark)
            entries[name] = rec
            t_pass += time.time() - t_un  # keep checks out of the pass time
    out = {"s": time.time() - t_pass, "entries": entries, "failed": failed}
    if counters is not None:
        out["spark"] = counters.take()
    return out


def run_query_mix(ctx) -> dict:
    t = time.time()
    tables = os.path.join(ctx.scratch, "tables")
    sizes = gen.write_query_tables(tables, ctx.seed, ctx.scale)
    ctx.untimed(time.time() - t)

    from weather_data_ingestion_gcp_spark.plans import ORACLE, QUERIES

    names = [n for n in QUERIES if n in set(MIX)]  # registry order
    # session warm-up: one trivial job, outside any entry's time
    ctx.spark.range(1000).selectExpr("sum(id)").collect()
    ctx.mark_ready()

    oracle = QueryOracle(tables, ORACLE)
    counters = SparkCounters(ctx.spark, ctx.tracer) if ctx.tracer.enabled else None
    problems: list[str] = []
    try:
        cold = _pass(ctx, QUERIES, names, tables, oracle, counters, problems)
        warm = []
        while len(warm) < MIN_WARM_PASSES or time.time() - ctx.t_ready < ctx.seconds:
            warm.append(_pass(ctx, QUERIES, names, tables, oracle, counters, problems))
    finally:
        oracle.close()

    times = [p["s"] for p in warm]
    tail_v, tail_p, tail_above = tail(times)
    result = {
        "attempted": len(names) * (1 + len(warm)),
        "failed": cold["failed"] + sum(p["failed"] for p in warm),
        "problems": problems,
        "e2e": {"cycle_p50_s": median(times), "cycle_tail_s": tail_v, "cold_s": cold["s"]},
        "record": {
            "entries": names, "table_rows": sizes, "warm_passes": len(warm),
            "tail_percentile": tail_p, "tail_samples_above": tail_above,
            "cold_pass_s": round(cold["s"], 4), "warm_pass_s": [round(t, 4) for t in times],
            "cold_entry_s": {n: round(e["s"], 4) for n, e in cold["entries"].items()},
            "warm_entry_s": {n: round(median([p["entries"][n]["s"] for p in warm]), 4)
                             for n in names},
        },
    }
    if ctx.tracer.enabled:
        layer = {}
        for n in names:
            layer[f"query.{n}.build_s"] = median([p["entries"][n].get("build_s", 0.0) for p in warm])
            layer[f"query.{n}.exec_s"] = median([p["entries"][n].get("exec_s", 0.0) for p in warm])
            layer[f"query.{n}.cold_s"] = cold["entries"][n]["s"]
        for ph in ("analysis", "optimization", "planning"):
            layer[f"catalyst.{ph}_s"] = median([
                sum(e["catalyst"][ph] for e in p["entries"].values() if "catalyst" in e)
                for p in warm])
        all_cache = [e["cache"] for p in [cold] + warm for e in p["entries"].values() if "cache" in e]
        layer["cache.persisted_relations"] = float(max(c[0] for c in all_cache))
        layer["cache.storage_mb"] = max(c[1] for c in all_cache)
        layer.update({f"spark.{k}": median([p["spark"][k] for p in warm]) for k in SPARK_FIELDS})
        layer["trace.cycle_p50_s"] = median(times)
        result["layer"] = layer
        result["record"]["cold_spark"] = cold["spark"]
    return result
