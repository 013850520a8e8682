"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload (``pipeline`` or ``query_mix``) from the root of a
checkout, checks its outputs, prints a detail record line and then, as
the last line of stdout, the result:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones (``metrics.END_TO_END``); with
``--trace 1`` they are the per-layer ones (``metrics.PER_LAYER``) and the
record carries every span with its self time.

All data goes under ``.perfbench_tmp/`` in the checkout and is removed at
exit. The Spark session is sized from the host (cores, a quarter of the
memory up to 8 GB of heap) unless ``SPARK_GRAFT_CPUS`` /
``SPARK_GRAFT_DRIVER_MEM`` are set.
"""

from __future__ import annotations

import argparse
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402
from perfbench.metrics import END_TO_END, PER_LAYER, WORKLOAD_LAYERS, WORKLOADS  # noqa: E402

#: a run that is still going after this long is stopped (exit code 3)
WATCHDOG_S = 170


class Context:
    """What a workload gets: the session, the tracer, its inputs' seed
    and the clock marks that delimit set-up from measurement."""

    def __init__(self, spark, tracer, seed: int, seconds: float, scratch: str,
                 scale: float, t_start: float):
        self.spark, self.tracer, self.seed = spark, tracer, seed
        self.seconds, self.scratch, self.scale = seconds, scratch, scale
        self.t_start = t_start
        self.t_ready: float | None = None
        self.ticks_ready: tuple[int, int] | None = None
        self.untimed_s = 0.0

    def untimed(self, seconds: float) -> None:
        """Exclude input generation done during set-up from setup_s."""
        self.untimed_s += seconds

    def mark_ready(self) -> None:
        """Set-up (including warm-up) is finished; measurement starts."""
        self.t_ready = time.time()
        self.ticks_ready = common.cpu_ticks()

    @property
    def setup_s(self) -> float:
        return self.t_ready - self.t_start - self.untimed_s


def _watchdog(scratch: str) -> None:
    print(f"perfbench: run exceeded {WATCHDOG_S}s, stopping", file=sys.stderr)
    common.remove_scratch(scratch)
    os._exit(3)


def run(workload: str, seed: int, seconds: float, trace: bool, scale: float = 1.0,
        t_start: float | None = None) -> tuple[dict, bool, int, int, dict]:
    """Run one workload; returns (record, correct, attempted, failed,
    metrics) with metrics as {name: (value, unit)}."""
    t_start = t_start if t_start is not None else common.process_start_time()
    scratch = common.make_scratch()
    watchdog = threading.Timer(max(WATCHDOG_S - (time.time() - t_start), 1), _watchdog, [scratch])
    watchdog.daemon = True
    watchdog.start()
    spark = None
    try:
        cores = common.prepare_env(scratch)
        tracer = common.Tracer(trace)
        t = time.time()
        with tracer.span("session.start"):
            spark = common.start_session(scratch, f"perfbench-{workload}")
        session_s = time.time() - t
        t = time.time()
        with tracer.span("plans.import"):
            import weather_data_ingestion_gcp_spark.jobs  # noqa: F401
            import weather_data_ingestion_gcp_spark.plans  # noqa: F401
            import weather_data_ingestion_gcp_spark.streaming.pipeline  # noqa: F401
        import_s = time.time() - t

        ctx = Context(spark, tracer, seed, seconds, scratch, scale, t_start)
        if workload == "pipeline":
            from perfbench.pipeline import run_pipeline as body
        else:
            from perfbench.querymix import run_query_mix as body
        res = body(ctx)
        t_done = time.time()
        steal, total = (b - a for a, b in zip(ctx.ticks_ready, common.cpu_ticks()))

        problems = res["problems"]
        attempted = res["attempted"]
        failed = res.get("failed", min(len(problems), attempted))
        record = {
            "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
            "host": common.host_block(spark, cores), "layers": WORKLOAD_LAYERS[workload],
            **res["record"],
            "problems": problems[:50], "failed_ops_frac": failed / attempted,
            "timeline_s": {"setup": ctx.setup_s, "untimed_inputs": ctx.untimed_s,
                           "measured_and_checked": t_done - ctx.t_ready},
            # host noise while measuring: vCPU time the hypervisor gave away
            "cpu_steal_frac": steal / total if total else 0.0,
        }
        if trace:
            layer = {k: 0.0 for k in PER_LAYER}
            layer.update(res.get("layer", {}))
            layer["session.start_s"] = session_s
            layer["plans.import_s"] = import_s
            layer["trace.overhead_s"] = tracer.overhead_s
            layer["process.peak_rss_mb"] = common.peak_rss_mb(spark)
            metrics = {k: (layer[k], PER_LAYER[k][0]) for k in PER_LAYER}
            record["moves"] = {k: v[1] for k, v in PER_LAYER.items()}
            record["spans"] = [
                {k: (round(v, 6) if isinstance(v, float) else v) for k, v in s.items()}
                for s in tracer.with_self_times()
            ]
        else:
            e2e = dict(res["e2e"], setup_s=ctx.setup_s)
            metrics = {k: (e2e[k], END_TO_END[k][0]) for k in END_TO_END}
            record["definitions"] = {k: v[3] for k, v in END_TO_END.items()}
        return record, not problems, attempted, failed, metrics
    finally:
        if spark is not None:
            common.stop_session(spark)
        common.remove_scratch(scratch)
        watchdog.cancel()


def main(argv=None) -> int:
    t_start = common.process_start_time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input-size factor for the backlog and the query tables "
                         "(tests use a fraction)")
    args = ap.parse_args(argv)
    record, correct, attempted, failed, metrics = run(
        args.workload, args.seed, args.seconds, bool(args.trace), args.scale, t_start)
    common.emit(record, correct, attempted, failed, metrics)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
