"""ns_interactive: one metadata-plane client over the facade.

The client issues the six OM/S3-style calls in equal shares, one round
at a time in a seed-shuffled order, and collect()s every response.
Arguments are drawn Zipf-skewed from DuckDB's copy of the namespace
(the `ozone_spark.oracle` views), hot paths first.  Each response is
checked afterwards against a parameterized DuckDB twin.
"""

from __future__ import annotations

import itertools
import time

import numpy as np

from planebench.common import Op, canon_rows, run_window, timed_op

KINDS = ["list_keys", "list_objects_v2", "list_status", "du",
         "container_keys", "key_search"]
# Warm-up rounds, each issuing all six calls.  On a 4-core host the
# summed per-round medians fall 25% from round 5 to round 10, 10% more
# to round 15 and 6% to round 20, then stay flat to round 40.  6 rounds
# is what the benchmark's time budget allows (README.md, "Warm-up").
WARMUP_ROUNDS = 6
ZIPF_S = 1.1
_SIZES = [1_000_000, 10_000_000, 30_000_000]


def _zipf_pick(rng, items: list):
    w = 1.0 / np.arange(1, len(items) + 1) ** ZIPF_S
    return items[int(rng.choice(len(items), p=w / w.sum()))]


class Workload:
    name = "ns_interactive"

    # -- set-up ---------------------------------------------------------
    def prepare_oracle(self, con) -> None:
        """Candidate arguments, hottest first (by keys underneath)."""
        from ozone_spark.oracle import with_views
        from ozone_spark.registry.q_namespace import _ROLLUP_SQL
        q = lambda sql, views: con.execute(with_views(sql, views)).fetchall()
        # every directory and bucket root, by keys underneath
        self.paths = [r[0] for r in q(
            f"""SELECT dir_path FROM ({_ROLLUP_SQL})
                ORDER BY num_files DESC, dir_path""", ["keys"])]
        self.containers = [r[0] for r in q(
            """SELECT container_id, count(*) AS n FROM locations
               GROUP BY 1 ORDER BY n DESC, container_id""", ["locations"])]
        self.volumes = sorted({p.split("/")[1] for p in self.paths})
        self.con = con

    def setup_engine(self, spark, data_dir: str) -> float:
        from ozone_spark.api import OzoneSparkNamespace
        t0 = time.perf_counter()
        self.ns = OzoneSparkNamespace(spark, data_dir)
        return time.perf_counter() - t0

    # -- request stream ---------------------------------------------------
    def _args(self, rng, kind: str) -> tuple:
        if kind == "list_keys":
            return (_zipf_pick(rng, self.paths) + "/", 100)
        if kind == "list_objects_v2":
            vol, bkt, *rest = _zipf_pick(rng, self.paths)[1:].split("/")
            return (vol, bkt, "".join(r + "/" for r in rest))
        if kind == "list_status":
            return (_zipf_pick(rng, self.paths),)
        if kind == "du":
            return (_zipf_pick(rng, self.paths), 10)
        if kind == "container_keys":
            return (int(_zipf_pick(rng, self.containers)),)
        return ("/" + _zipf_pick(rng, self.volumes) + "/",
                _SIZES[int(rng.integers(len(_SIZES)))], 100)

    def _call(self, kind: str, args: tuple):
        ns = self.ns
        if kind == "list_keys":
            return lambda: ns.list_keys(prefix=args[0], max_keys=args[1])
        if kind == "list_objects_v2":
            return lambda: ns.list_objects_v2(args[0], args[1],
                                              prefix=args[2], delimiter="/")
        if kind == "list_status":
            return lambda: ns.list_status(args[0])
        if kind == "du":
            return lambda: ns.du(args[0], top_k=args[1])
        if kind == "container_keys":
            return lambda: ns.container_keys(args[0])
        return lambda: ns.key_search(prefix=args[0], min_data_size=args[1],
                                     limit=args[2])

    def rounds(self, rng, tracer, trace_share: bool):
        """Endless rounds; each round is a list of op thunks."""
        for r in itertools.count():
            order = list(rng.permutation(KINDS))
            unit = []
            for kind in order:
                args = self._args(rng, kind)
                traced = trace_share and (r + KINDS.index(kind)) % 2 == 0
                unit.append(self._thunk(tracer, kind, args, f"{kind}#{r}",
                                        traced))
            yield unit

    def _thunk(self, tracer, kind, args, req, traced):
        build = self._call(kind, args)
        return lambda: timed_op(tracer, kind, req, traced, build,
                                lambda df: df.collect(), args)

    def warmup(self, rng, tracer) -> None:
        for unit in itertools.islice(self.rounds(rng, tracer, False),
                                     WARMUP_ROUNDS):
            for issue in unit:
                issue()

    def window(self, rng, tracer, seconds: float):
        return run_window(seconds, self.rounds(rng, tracer, tracer.enabled))

    # -- correctness ------------------------------------------------------
    def _twin_sql(self, kind: str, args: tuple) -> str:
        from ozone_spark.oracle import with_views
        from ozone_spark.registry.q_listing import _lov2_oracle, _oracle_list_keys
        from ozone_spark.registry.q_namespace import _ROLLUP_SQL
        if kind == "list_keys":
            return _oracle_list_keys(f"starts_with(db_key, '{args[0]}')",
                                     args[1])
        if kind == "list_objects_v2":
            return _lov2_oracle(*args)
        if kind == "list_status":
            p = args[0]
            return with_views(f"""SELECT name, entry_type, data_size FROM (
  SELECT name, 'DIR' AS entry_type, CAST(NULL AS BIGINT) AS data_size
  FROM directories WHERE parent_path = '{p}'
  UNION ALL
  SELECT regexp_extract(key_name, '[^/]+$'), 'FILE', data_size
  FROM keys WHERE regexp_replace(db_key, '/[^/]+$', '') = '{p}'
) ORDER BY name LIMIT 1000""", ["keys", "directories"])
        if kind == "du":
            prefix = args[0].rstrip("/") + "/"
            return with_views(f"""SELECT * FROM ({_ROLLUP_SQL})
WHERE starts_with(dir_path, '{prefix}')
  AND len(string_split(dir_path, '/')) = {prefix.count('/') + 1}
ORDER BY size_of_files DESC, dir_path LIMIT {args[1]}""", ["keys"])
        if kind == "container_keys":
            return with_views(f"""SELECT k.db_key, k.object_id, k.data_size,
  r.block_count, r.bytes
FROM keys k JOIN (
  SELECT object_id, count(*) AS block_count,
         CAST(sum(block_len) AS BIGINT) AS bytes
  FROM locations WHERE container_id = {args[0]} GROUP BY 1) r USING (object_id)
ORDER BY db_key""", ["keys", "locations"])
        return with_views(f"""SELECT db_key, object_id, data_size, repl_factor,
  creation_time
FROM keys WHERE starts_with(db_key, '{args[0]}') AND data_size >= {args[1]}
ORDER BY db_key LIMIT {args[2]}""", ["keys"])

    def expected(self, kind: str, args: tuple) -> tuple[list[tuple], list[str]]:
        """Canonical rows and sorted column names of the DuckDB twin."""
        cur = self.con.execute(self._twin_sql(kind, args))
        cols = [d[0] for d in cur.description]
        return canon_rows(cur.fetchall(), cols), sorted(cols)

    def check(self, ops: list[Op]) -> int:
        """Number of ops whose response differs from the DuckDB twin."""
        cache: dict[tuple, tuple] = {}
        failed = 0
        for op in ops:
            key = (op.kind, op.args)
            if key not in cache:
                cache[key] = self.expected(op.kind, op.args)
            want_rows, want_cols = cache[key]
            rows = op.result
            fields = list(rows[0].__fields__) if rows else want_cols
            got = canon_rows([tuple(r) for r in rows], fields)
            failed += sorted(fields) != want_cols or got != want_rows
        return failed
