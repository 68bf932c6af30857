"""Shared pieces of the workloads: the op record, the result compare
and the windowed closed loop."""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass

import pandas as pd

from planebench.trace import OpTrace, Tracer


@dataclass
class Op:
    kind: str              # facade call type or board row name
    latency_s: float
    result: object = None  # kept for the post-window check
    args: tuple = ()
    trace: OpTrace | None = None
    traced: bool = False


def canon_rows(rows: list, columns: list[str]) -> list[tuple]:
    """Canonical form of collected rows (tests/util.py's compare),
    keeping NULL as NULL on both sides."""
    from tests.util import canon
    return canon(pd.DataFrame(list(rows), columns=columns, dtype=object))


def same_result(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """tests/util.py's canonical compare: same column names, same row
    count, same order-insensitive canonical values."""
    from tests.util import canon
    return (sorted(got.columns) == sorted(want.columns)
            and len(got) == len(want)
            and canon(got) == canon(want))


def run_window(seconds: float, units: Iterator[list[Callable[[], Op]]],
               min_units: int = 1) -> tuple[list[Op], float]:
    """Closed loop, one client: issue each unit's ops back to back; start
    a new unit only while the window is open or fewer than `min_units`
    have run, so every unit (a round of calls, a board pass) completes
    whole.  Returns the ops and the window's wall seconds."""
    ops: list[Op] = []
    t0 = time.perf_counter()
    for n, unit in enumerate(units, 1):
        for issue in unit:
            ops.append(issue())
        if n >= min_units and time.perf_counter() - t0 >= seconds:
            break
    return ops, time.perf_counter() - t0


def timed_op(tracer: Tracer, kind: str, req: str, traced: bool,
             build: Callable, act: Callable, args: tuple = ()) -> Op:
    """One client request: build the frame, run the action, time both
    from outside; under tracing, through the tracer's spans."""
    if traced:
        result, wall, tr = tracer.traced_op(req, build, act)
        return Op(kind, wall, result, args, tr, traced=True)
    t0 = time.perf_counter()
    result = act(build())
    return Op(kind, time.perf_counter() - t0, result, args)
