"""Per-layer metrics of a traced run (README.md, "Per-layer metrics").

A layer a workload does not exercise reads 0.  Times are medians per
op, counts are means per op unless the name says otherwise, and window
counters (JVM, driver, workers, slot cache) are deltas over the window.
"""

from __future__ import annotations

import math
import statistics

from planebench.trace import SparkWork

MB = 1024.0 * 1024.0

# name -> unit; the order BENCHMARK.json lists them in
LAYER_UNITS: dict[str, str] = {
    "session.start_s": "s",
    "tables.views_s": "s",
    "tables.cached_mb": "MB",
    "api.build_ms": "ms",
    "registry.build_ms": "ms",
    "registry.build_jobs": "count",
    "operators.board_s": "s",
    "functions.board_s": "s",
    "streaming.board_s": "s",
    "functions.slot_hits": "count",
    "functions.slot_misses": "count",
    "pyworkers.cpu_s": "s",
    "streaming.batches": "count",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.action_ms": "ms",
    "exec.jobs": "count",
    "exec.tasks": "count",
    "exec.busy_share": "ratio",
    "exec.input_rows": "count",
    "exec.rows_examined_per_row": "ratio",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_fetch_wait_ms": "ms",
    "exec.spill_mb": "MB",
    "jvm.gc_ms": "ms",
    "jvm.jit_ms": "ms",
    "jvm.cpu_s": "s",
    "driver.cpu_s": "s",
    "host.calib_ms": "ms",
    "trace.overhead_share": "ratio",
    "self.op_ms": "ms",
}


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def overhead_share(ops) -> float:
    """Traced vs untraced latency of the same op kinds in one run:
    geometric mean over kinds of median(traced) / median(untraced),
    minus one.  Tracing alternates between the two halves of each kind's
    ops, so both halves see the same JVM and host."""
    ratios = []
    kinds = {op.kind for op in ops}
    for k in kinds:
        on = [op.latency_s for op in ops if op.kind == k and op.traced]
        off = [op.latency_s for op in ops if op.kind == k and not op.traced]
        if on and off:
            ratios.append(statistics.median(on) / statistics.median(off))
    if not ratios:
        return 0.0
    return math.exp(sum(math.log(r) for r in ratios) / len(ratios)) - 1.0


def _exec_metrics(works: list[SparkWork], action_ms: list[float],
                  out_rows: int, cores: int) -> dict[str, float]:
    total = SparkWork()
    for w in works:
        total.add(w)
    n = max(len(works), 1)
    busy = total.run_ms / (sum(action_ms) * cores) if action_ms else 0.0
    return {
        "exec.action_ms": _median(action_ms),
        "exec.jobs": total.jobs / n,
        "exec.tasks": total.tasks / n,
        "exec.busy_share": busy,
        "exec.input_rows": total.input_rows / n,
        "exec.rows_examined_per_row": total.input_rows / max(out_rows, 1),
        "exec.shuffle_write_mb": total.shuffle_write_bytes / MB / n,
        "exec.shuffle_fetch_wait_ms": total.fetch_wait_ms / n,
        "exec.spill_mb": total.spill_bytes / MB / n,
    }


def layer_metrics(wl, ops, *, spark, tracer, cores, session_s, views_s,
                  cached_mb, j0, j1, slots0, slots1, calib
                  ) -> dict[str, tuple[float, str]]:
    m: dict[str, float] = {k: 0.0 for k in LAYER_UNITS}
    m.update({
        "session.start_s": session_s,
        "tables.views_s": views_s,
        "tables.cached_mb": cached_mb,
        "functions.slot_hits": slots1[0] - slots0[0],
        "functions.slot_misses": slots1[1] - slots0[1],
        "pyworkers.cpu_s": j1["workers_cpu_s"] - j0["workers_cpu_s"],
        "jvm.gc_ms": j1["gc_ms"] - j0["gc_ms"],
        "jvm.jit_ms": j1["jit_ms"] - j0["jit_ms"],
        "jvm.cpu_s": j1["cpu_s"] - j0["cpu_s"],
        "driver.cpu_s": j1["driver_cpu_s"] - j0["driver_cpu_s"],
        "host.calib_ms": _mean(calib),
        "trace.overhead_share": overhead_share(ops),
    })
    # build and action spans have no children: their self time is
    # api/registry.build_ms and exec.action_ms
    m["self.op_ms"] = _median(tracer.self_ms().get("op", []))

    traced = [op for op in ops if op.traced]
    m.update(_exec_metrics(
        [op.trace.action_work for op in traced],
        [op.trace.action_ms for op in traced],
        sum(op.trace.out_rows for op in traced), cores))
    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_ms"] = _median(
            op.trace.catalyst_ms.get(phase, 0.0) for op in traced)
    build_ms = _median(op.trace.build_ms for op in traced)
    if wl.name == "ns_interactive":
        m["api.build_ms"] = build_ms
    else:
        from planebench.recon_board import BOARD, PASS_ROWS
        m["registry.build_ms"] = build_ms
        m["registry.build_jobs"] = len(PASS_ROWS) * _mean(
            op.trace.build_work.jobs for op in traced)
        passes = len(ops) / len(PASS_ROWS)
        for fam in ("operators", "functions", "streaming"):
            m[f"{fam}.board_s"] = sum(
                op.latency_s for op in ops if BOARD[op.kind] == fam) / passes
        batches = wl.progress.take()
        m["streaming.batches"] = float(len(batches)) / passes
        for name, key in (("trigger_ms", "triggerExecution"),
                          ("add_batch_ms", "addBatch"),
                          ("planning_ms", "queryPlanning"),
                          ("wal_commit_ms", "walCommit"),
                          ("commit_offsets_ms", "commitOffsets")):
            m[f"streaming.{name}"] = _median(b.get(key, 0) for b in batches)
    return {k: (v, LAYER_UNITS[k]) for k, v in m.items()}

