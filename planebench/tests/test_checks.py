"""The benchmark's result checks fire on a planted wrong result.

Spark-free: the expected answers come from DuckDB over inputs the
benchmark's own generator writes, and the "engine results" are those
answers, once intact and once with one value or row changed.

    python -m pytest planebench/tests -q      # from the repo root
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from planebench import datagen, recon_board
from planebench.common import Op
from planebench.ns_interactive import KINDS
from planebench.ns_interactive import Workload as NsWorkload
from planebench.recon_board import Workload as BoardWorkload
from tests.util import duck_con


@pytest.fixture(scope="module")
def con(tmp_path_factory):
    c = duck_con(datagen.write_tables(str(tmp_path_factory.mktemp("d")), 0.001))
    yield c
    c.close()


@pytest.fixture(scope="module")
def ns(con):
    wl = NsWorkload()
    wl.prepare_oracle(con)
    return wl


def _rows(wl, kind, args) -> list[Row]:
    cur = wl.con.execute(wl._twin_sql(kind, args))
    cols = [d[0] for d in cur.description]
    return [Row(**dict(zip(cols, r))) for r in cur.fetchall()]


@pytest.mark.parametrize("kind", KINDS)
def test_ns_check_passes_right_and_fires_on_planted_value(ns, kind):
    import numpy as np
    rng = np.random.default_rng(7)
    args = ns._args(rng, kind)
    while not _rows(ns, kind, args):         # a call with a non-empty answer
        args = ns._args(rng, kind)
    right = _rows(ns, kind, args)
    assert ns.check([Op(kind, 0.1, right, args)]) == 0

    wrong = [r.asDict() for r in right]
    col = next(c for c, v in wrong[0].items() if isinstance(v, (int, str))
               and not isinstance(v, bool))
    wrong[0][col] = wrong[0][col] + (1 if isinstance(wrong[0][col], int) else "x")
    planted = [Row(**d) for d in wrong]
    assert ns.check([Op(kind, 0.1, right, args),
                     Op(kind, 0.1, planted, args)]) == 1


def test_ns_check_fires_on_missing_row(ns):
    args = ("/", 100)
    right = _rows(ns, "list_keys", args)
    assert ns.check([Op("list_keys", 0.1, right[:-1], args)]) == 1


@pytest.fixture(scope="module")
def board(con):
    wl = BoardWorkload()
    wl.prepare_oracle(con)
    return wl


def test_board_check_fires_on_planted_value(board):
    name = "pricing_summary"
    right = board.con.execute(board.specs[name].oracle).fetchdf()
    assert board.check([Op(name, 0.1, right.copy())]) == 0
    planted = right.copy()
    col = planted.select_dtypes("number").columns[0]
    planted.loc[0, col] = planted.loc[0, col] + 1
    assert board.check([Op(name, 0.1, right.copy()),
                        Op(name, 0.1, planted)]) == 1


def test_board_check_fires_on_extra_row(board):
    name = "snapshot_diff"
    right = board.con.execute(board.specs[name].oracle).fetchdf()
    import pandas as pd
    planted = pd.concat([right, right.iloc[:1]], ignore_index=True)
    assert board.check([Op(name, 0.1, planted)]) == 1


def test_board_rows_without_oracle_check_row_count(board, monkeypatch):
    import dataclasses
    name = "hdr_quantiles"
    spec = dataclasses.replace(board.specs[name], oracle=None)
    monkeypatch.setitem(board.specs, name, spec)
    monkeypatch.setitem(board.warm_rows, name, 3)
    assert board.check([Op(name, 0.1, [4, 5, 6])]) == 0
    assert board.check([Op(name, 0.1, [4, 5])]) == 1


def test_board_pins_every_row(monkeypatch):
    assert len(recon_board.BOARD) == 38
    assert set(recon_board.PASS_ROWS) <= set(recon_board.BOARD)
    assert len(recon_board.pinned_specs()) == 38
    monkeypatch.setitem(recon_board.BOARD, "no_such_board_row", "operators")
    with pytest.raises(SystemExit, match="no_such_board_row"):
        recon_board.pinned_specs()


def test_inputs_are_deterministic():
    a = datagen.build_tables(0.001)
    b = datagen.build_tables(0.001)
    assert all(a[t].equals(b[t]) for t in datagen.TABLES)
