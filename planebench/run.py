#!/usr/bin/env python3
"""Benchmark entry point: one run of one workload.

    python3 planebench/run.py --cores 2 --workload ns_interactive \
        --seed 1 --seconds 16 --trace 0

Run from the root of a checkout.  The run synthesizes its inputs from
the seed, starts the engine's Spark session at local[--cores], sets up
and warms up the workload, measures a window of --seconds, checks every
result outside the window, and prints one JSON object as the last line
of standard output: the end-to-end metrics with --trace 0, the per-layer
metrics with --trace 1.  Diagnostics go to standard error.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

SF = 0.01          # 15k keys, 60k block locations, 10k events, 500 docs
MB = 1024.0 * 1024.0
WORKLOADS = ["ns_interactive", "recon_board"]


def _parse() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, required=True,
                    help="Spark local[N] core count")
    return ap.parse_args()


def _workload(name: str):
    if name == "ns_interactive":
        from planebench.ns_interactive import Workload
    else:
        from planebench.recon_board import Workload
    return Workload()


def _slot_totals() -> tuple[int, int]:
    from ozone_spark.functions.dedup import slot_stats
    stats = slot_stats().values()
    return sum(h for h, _ in stats), sum(m for _, m in stats)


def _cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MB


def run(args) -> dict:
    import numpy as np

    from planebench import datagen, harness
    from planebench.trace import Tracer
    from tests.util import duck_con

    rundir = harness.RunDir()
    spark = None
    try:
        wl = _workload(args.workload)
        t0 = time.perf_counter()
        data_dir = datagen.write_tables(rundir.sub("data"), SF)
        wl.prepare_oracle(duck_con(data_dir))
        synth_s = time.perf_counter() - t0
        spark, session_s = harness.start_session(rundir, args.cores)
        jvm = harness.JvmProbe(spark)
        tracer = Tracer(spark, enabled=bool(args.trace))
        views_s = wl.setup_engine(spark, data_dir)
        t0 = time.perf_counter()
        wl.warmup(np.random.default_rng([args.seed, 1]), tracer)
        warm_s = time.perf_counter() - t0
        cached_mb = _cached_mb(spark)
        calib = [harness.calibrate_ms(spark)]
        j0, slots0 = jvm.snapshot(), _slot_totals()

        t_window = time.perf_counter()
        setup_s = t_window - T_PROCESS
        ops, window_s = wl.window(np.random.default_rng([args.seed, 2]),
                                  tracer, args.seconds)

        j1, slots1 = jvm.snapshot(), _slot_totals()
        calib.append(harness.calibrate_ms(spark))
        retained_mb = harness.retained_bytes(spark, jvm.pid) / MB
        failed = wl.check(ops)
        lat_ms = [op.latency_s * 1000.0 for op in ops]
        jit_ms = j1["jit_ms"] - j0["jit_ms"]
        harness.log(f"{args.workload} seed={args.seed} ops={len(ops)} "
                    f"window_s={window_s:.2f} setup_s={setup_s:.2f} "
                    f"synth_s={synth_s:.2f} session_s={session_s:.2f} "
                    f"views_s={views_s:.2f} warm_s={warm_s:.2f} "
                    f"jvm.jit_ms={jit_ms:.0f} host.calib_ms={calib} "
                    f"failed={failed}")
        if args.trace:
            from planebench.layers import layer_metrics
            metrics = layer_metrics(
                wl, ops, spark=spark, tracer=tracer, cores=args.cores,
                session_s=session_s, views_s=views_s, cached_mb=cached_mb,
                j0=j0, j1=j1, slots0=slots0, slots1=slots1, calib=calib)
            tracer.write(os.path.join(
                ".planebench_traces", f"{args.workload}-{args.seed}.json"))
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "ops_per_s": (len(ops) / window_s, "1/s"),
                "op_p50_ms": (statistics.median(lat_ms), "ms"),
                "op_p90_ms": (statistics.quantiles(
                    lat_ms, n=10, method="inclusive")[8], "ms"),
                "op_geomean_ms": (
                    harness.geomean_of_kind_medians(ops) * 1000.0, "ms"),
                "retained_mb": (retained_mb, "MB"),
            }
        return {
            "correct": failed == 0,
            "attempted": len(ops),
            "failed": int(failed),
            "metrics": {k: {"value": float(v), "unit": u}
                        for k, (v, u) in metrics.items()},
        }
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)  # let the clean-up finish
        harness.stop_engine(spark)
        rundir.close()


def _on_term(signum, frame):
    # unwind through run()'s finally, which ends the engine's processes
    raise SystemExit(128 + signum)


def main() -> int:
    args = _parse()
    signal.signal(signal.SIGTERM, _on_term)
    sys.path.insert(0, os.getcwd())
    try:
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401

        import ozone_spark  # noqa: F401
        import tests.util  # noqa: F401
    except ImportError as ex:
        print(f"planebench: run from the root of an ozone_spark checkout "
              f"({ex})", file=sys.stderr)
        return 2
    result = run(args)
    for m in result["metrics"].values():
        if not math.isfinite(m["value"]):
            raise SystemExit(f"non-finite metric in {result}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
