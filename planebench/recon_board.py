"""recon_board: the analytics plane, warm passes over pinned board rows.

BOARD pins the repo's 38 board query names with the package that does
their work.  The benchmark fails if any name is missing from the
registry.  The order is never taken from `bench_queries()`, because
importing the registry reorders queries by files on disk.

One run cannot hold a warm pass of all 38 rows on a 4-core host: a warm
pass takes about 28 s and the cold pass before it about 55 s, while the
whole benchmark must finish 22 runs of each workload in under an hour.
So each run times PASS_ROWS: 14 of the 38 rows, covering all three
families and each heavy mechanism (minhash dedup with the slot cache,
brute-force and semantic similarity, the pandas-UDF media path,
sketches and a stateful stream drain, whose micro-batches a streaming
query listener records).  The rest of the choice is about where the
window's percentiles fall among its 28 ops:

- Two rows cost 2-3 s each, so the slowest tenth of the window holds
  samples of both: its 90th percentile then does not hang on the single
  slowest sample of the cheaper rows.
- Nine rows cost 0.25-0.45 s, so the median falls inside their
  eighteen samples.  With eleven rows the median sat on the two samples
  of knn_bruteforce, between a 0.5 s and a 0.9 s row, and moved with
  that one row: over five runs on a steady host its IQR was 0.17 of the
  median against 0.07 for the geometric mean.

Each query is built by its registry builder over the persisted
`views()` and materialized with toPandas(), as a board client receives
it; never count(), which would let Catalyst prune columns.  Results are
checked afterwards against the query's oracle_sql() in DuckDB.
"""

from __future__ import annotations

import itertools
import threading
import time

from planebench.common import Op, run_window, same_result, timed_op

BOARD: dict[str, str] = {
    "knn_ivf_pq": "functions",
    "list_objects_v2_root": "operators",
    "snapshot_diff": "operators",
    "container_key_index": "operators",
    "file_size_histogram": "operators",
    "namespace_rollup": "operators",
    "namespace_dist": "operators",
    "pricing_summary": "operators",
    "shipping_priority": "operators",
    "region_revenue": "operators",
    "events_tumbling_daily": "operators",
    "events_sessionize": "operators",
    "cross_corpus_dedup": "functions",
    "dedup_ngram_jaccard": "functions",
    "dedup_clusters": "functions",
    "dedup_minhash_lsh": "functions",
    "knn_bruteforce": "functions",
    "semantic_dedup": "functions",
    "media_features": "functions",
    "streaming_session_stats": "streaming",
    "acl_effective_rights": "operators",
    "remove_duplicate_spans": "functions",
    "payload_chunk_near_dup": "functions",
    "customer_order_distribution": "operators",
    "large_volume_orders": "operators",
    "priority_line_counts": "operators",
    "volume_shipping": "operators",
    "waiting_orders_suppliers": "operators",
    "boilerplate_paragraphs": "functions",
    "lsh_bucket_stats": "functions",
    "corpus_growth_curve": "functions",
    "dup_graph_centrality_reps": "functions",
    "media_ppm_features": "functions",
    "hdr_quantiles": "functions",
    "session_concurrency": "operators",
    "record_linkage": "functions",
    "streaming_ingest_dedup": "streaming",
    "bucket_cap_report": "functions",
}

PASS_ROWS = [
    "list_objects_v2_root", "snapshot_diff", "container_key_index",
    "file_size_histogram", "pricing_summary", "namespace_rollup",
    "events_tumbling_daily", "events_sessionize",
    "dedup_minhash_lsh", "knn_bruteforce", "media_features", "hdr_quantiles",
    "semantic_dedup",
    "streaming_session_stats",
]


class StreamProgress:
    """Micro-batch durations of the board's streaming rows, from a
    StreamingQueryListener (events arrive on the listener thread)."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.batches: list[dict[str, int]] = []

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener
        sink = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event): pass
            def onQueryIdle(self, event): pass
            def onQueryTerminated(self, event): pass

            def onQueryProgress(self, event):
                if event.progress.numInputRows > 0:
                    with sink.lock:
                        sink.batches.append(dict(event.progress.durationMs))
        return Listener()

    def take(self) -> list[dict[str, int]]:
        with self.lock:
            out, self.batches = self.batches, []
        return out


# The window is exactly two passes, whatever the host's speed: a pass
# takes 8-12 s, so the two fill about the window's nominal length.  A
# window whose pass count flipped between runs (2 on a slow stretch of
# the host, 3 on a fast one) would compare a slow early pass with a
# faster later one.
WINDOW_PASSES = 2


def pinned_specs() -> dict:
    """QuerySpec per pinned name; raises if the registry lost one."""
    from ozone_spark.registry import _REGISTRY_ORDER
    specs = {q.name: q for q in _REGISTRY_ORDER}
    missing = [n for n in BOARD if n not in specs]
    if missing:
        raise SystemExit(f"board rows missing from the registry: {missing}")
    return {n: specs[n] for n in BOARD}


class Workload:
    name = "recon_board"

    def __init__(self) -> None:
        self.specs = pinned_specs()
        self.warm_rows: dict[str, int] = {}

    def prepare_oracle(self, con) -> None:
        self.con = con

    def setup_engine(self, spark, data_dir: str) -> float:
        from ozone_spark.registry import views
        self.spark, self.data_dir = spark, data_dir
        t0 = time.perf_counter()
        views(spark, data_dir)  # persisted lazily; the warm-up pass fills them
        views_s = time.perf_counter() - t0
        self.progress = StreamProgress()
        spark.streams.addListener(self.progress.listener())
        return views_s

    def passes(self, rng, tracer, trace_share: bool):
        for p in itertools.count():
            order = [PASS_ROWS[i] for i in rng.permutation(len(PASS_ROWS))]
            yield [self._thunk(tracer, name, f"{name}#{p}",
                               trace_share and (p + PASS_ROWS.index(name)) % 2 == 0)
                   for name in order]

    def _thunk(self, tracer, name, req, traced):
        fn, spark, d = self.specs[name].fn, self.spark, self.data_dir
        return lambda: timed_op(tracer, name, req, traced,
                                lambda: fn(spark, d), lambda df: df.toPandas())

    def warmup(self, rng, tracer) -> None:
        """One full pass; its row counts anchor the check of rows that
        have no oracle."""
        for issue in next(self.passes(rng, tracer, False)):
            op = issue()
            self.warm_rows[op.kind] = len(op.result)

    def window(self, rng, tracer, seconds: float):
        self.progress.take()  # drop the warm-up pass's batches
        return run_window(0.0, self.passes(rng, tracer, tracer.enabled),
                          min_units=WINDOW_PASSES)

    def check(self, ops: list[Op]) -> int:
        """Failed ops: a result differing from the oracle, or (for a row
        without an oracle) a row count differing from the warm-up's."""
        want: dict[str, object] = {}
        failed = 0
        for op in ops:
            oracle = self.specs[op.kind].oracle
            if oracle is None:
                failed += len(op.result) != self.warm_rows.get(op.kind)
                continue
            if op.kind not in want:
                want[op.kind] = self.con.execute(oracle).fetchdf()
            failed += not same_result(op.result, want[op.kind])
        return failed
