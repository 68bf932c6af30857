"""A run leaves no process behind: once `harness.stop_engine` returns,
the gateway JVM and its Python daemon and workers have all ended.

Starts a Spark session in a child interpreter (about 15 s):

    python -m pytest planebench/tests -q      # from the repo root
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from planebench.harness import _ended

_CHILD = r"""
import json
from planebench import harness
run = harness.RunDir()
try:
    spark, _ = harness.start_session(run, 2)
    # a Python function, so the JVM forks the Python daemon and workers
    spark.range(8).rdd.map(lambda r: r.id).collect()
    jvm = spark.sparkContext._gateway.proc.pid
    pids = [jvm, *harness.descendants(jvm)]
    harness.stop_engine(spark)
    live = [p for p in pids if not harness._ended(p)]
    print(json.dumps({"pids": pids, "live": live, "scratch": run.path}))
finally:
    run.close()
"""


def test_stop_engine_ends_every_process(tmp_path):
    root = os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    out = subprocess.run([sys.executable, "-c", _CHILD], cwd=tmp_path,
                         env={**os.environ, "PYTHONPATH": root},
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert len(got["pids"]) >= 2  # the JVM and at least its Python daemon
    assert got["live"] == []  # ended before the child interpreter exits
    assert all(_ended(p) for p in got["pids"])
    assert not os.path.exists(got["scratch"])
