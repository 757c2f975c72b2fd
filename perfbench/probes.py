"""Layer probes for the traced op.

The traced op runs the engine's own entry point (``run_dedup``, or
``cli.main``). For its duration some of the functions that entry point calls
are swapped, as module attributes, for wrappers that open a span around the
call; the originals are put back on exit, and no engine file changes. Spark
plans are lazy, so a wrapper around a layer's function also materializes the
function's output inside the span (``persist`` + ``count``): without that,
the layer's work would run later, inside whichever span triggers the next
action. Those materializations, and the count jobs they add, are the only
work the traced op does beyond the untraced one; ``trace.overhead_ratio``
reports what they cost.
"""

from __future__ import annotations

import contextlib

from . import host


@contextlib.contextmanager
def swapped(swaps: list[tuple[object, str, object]]):
    """Set ``module.name = new`` for each ``(module, name, new)``; restore
    the old attributes on exit."""
    old = [(mod, name, getattr(mod, name)) for mod, name, _ in swaps]
    try:
        for mod, name, new in swaps:
            setattr(mod, name, new)
        yield
    finally:
        for mod, name, fn in reversed(old):
            setattr(mod, name, fn)


def cached_bytes(spark) -> int:
    """Memory + disk bytes of every cached RDD block (the DataFrame cache)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


@contextlib.contextmanager
def writes(tracer, name: str, op_id: str, stage_dir):
    """A ``checkpoint`` span that records the bytes and parquet files
    written under ``stage_dir`` while it was open."""
    before = host.dir_files(str(stage_dir))
    with tracer.span(name, "checkpoint", op_id) as sp:
        yield sp
    sp.counters["bytes_written"], sp.counters["files"] = host.written_since(
        before, host.dir_files(str(stage_dir))
    )


def traced_store_class(tracer, op_id: str):
    """A ``StageStore`` subclass whose stage commits and loads, and whose
    transactions' ``stage_segment``/``stage_full``/``commit``, are spans of
    layer ``checkpoint``. Installed in place of ``sources.checkpoint.
    StageStore``, it is the class ``cli.py`` instantiates."""
    from jira_duplicate_detection_turkcell__spark.sources.checkpoint import (
        StageStore,
        StageTxn,
    )

    class TracedTxn(StageTxn):
        def stage_full(self, stage, df, metrics=None):
            with writes(tracer, f"checkpoint.{stage}", op_id, self.store.root / stage):
                super().stage_full(stage, df, metrics)

        def stage_segment(self, stage, df, metrics=None):
            with writes(tracer, f"checkpoint.{stage}", op_id, self.store.root / stage):
                super().stage_segment(stage, df, metrics)

        def commit(self):
            with tracer.span("checkpoint.txn_commit", "checkpoint", op_id):
                super().commit()

    class TracedStore(StageStore):
        def commit(self, stage, df, metrics=None):
            with writes(tracer, f"checkpoint.{stage}", op_id, self.root / stage):
                return super().commit(stage, df, metrics)

        def load(self, spark, stage):
            with tracer.span(f"checkpoint.load.{stage}", "checkpoint", op_id):
                return super().load(spark, stage)

        def begin_txn(self, generation):
            return TracedTxn(self, generation)

    return TracedStore


class Probes:
    """Wrappers for one traced op; ``cnt`` collects the counts their
    materializations yield, ``bucket_tables`` and ``hot_tables`` the
    DataFrames that later counters need."""

    def __init__(self, tracer, op_id: str, spark):
        self.tr = tracer
        self.op_id = op_id
        self.spark = spark
        self.cnt: dict[str, float] = {}
        self.bucket_tables: list = []
        self.hot_tables: list = []
        self.edge_counts: list = []
        self._batch = None

    def materialized(self, fn, name: str, layer: str, count_key: str | None = None):
        """``fn`` in a span of ``layer``, its DataFrame result (the first
        element of a tuple result) persisted and counted there."""

        def wrapper(*args, **kwargs):
            with self.tr.span(name, layer, self.op_id):
                out = fn(*args, **kwargs)
                df = out[0] if isinstance(out, tuple) else out
                n = df.persist().count()
            if count_key:
                self.cnt[count_key] = self.cnt.get(count_key, 0) + n
            return out

        return wrapper

    def extract(self, fn):
        return self.materialized(fn, "extract_stage", "extract", "extract.rows_out")

    def signatures(self, fn):
        inner = self.materialized(fn, "signature_stage", "signatures")

        def wrapper(*args, **kwargs):
            before = cached_bytes(self.spark)
            out = inner(*args, **kwargs)
            self.cnt["signatures.cached_mb"] = (cached_bytes(self.spark) - before) / 1e6
            return out

        return wrapper

    def bucket_table(self, fn):
        """Records each bucket table (lazy; computed inside the pair span)."""

        def wrapper(*args, **kwargs):
            out = fn(*args, **kwargs)
            self.bucket_tables.append(out[0])
            return out

        return wrapper

    def pairs(self, fn, name: str):
        inner = self.materialized(fn, name, "buckets", "buckets.candidate_rows")

        def wrapper(*args, **kwargs):
            out = inner(*args, **kwargs)
            self.hot_tables.append(out[1])
            return out

        return wrapper

    def verify(self, fn):
        return self.materialized(fn, "verify_fused_pairs", "verify", "verify.edges")

    def components(self, fn):
        inner = self.materialized(fn, "connected_components", "components")

        def wrapper(*args, **kwargs):
            self.edge_counts.append(kwargs.get("edge_count"))
            return inner(*args, **kwargs)

        return wrapper

    def spanned(self, fn, name: str, layer: str):
        """``fn`` in a span, its result left as it is."""

        def wrapper(*args, **kwargs):
            with self.tr.span(name, layer, self.op_id):
                return fn(*args, **kwargs)

        return wrapper

    def batch_extract(self, fn):
        """``apply_append`` runs ``sign_new_batch``'s two steps inline
        (``extract_stage`` then ``signature_stage``, each
        ``localCheckpoint``-ed): this wrapper of the first step opens the
        ``sign_new_batch`` span that ``batch_sign`` closes."""
        inner = self.extract(fn)

        def wrapper(*args, **kwargs):
            self._batch = self.tr.span("sign_new_batch", "incremental", self.op_id)
            self._batch.__enter__()
            return inner(*args, **kwargs)

        return wrapper

    def batch_sign(self, fn):
        inner = self.signatures(fn)

        def wrapper(*args, **kwargs):
            try:
                return inner(*args, **kwargs)
            finally:
                self._batch.__exit__(None, None, None)

        return wrapper

    def inmem_swaps(self) -> list:
        """``run_dedup`` without a store: extract, sign, the fused bucket
        table and salted self-join, verify, connected components."""
        from jira_duplicate_detection_turkcell__spark.operators import buckets
        from jira_duplicate_detection_turkcell__spark.plans import pipeline as P

        return [
            (P, "extract_stage", self.extract(P.extract_stage)),
            (P, "signature_stage", self.signatures(P.signature_stage)),
            (P, "fused_bucket_table", self.bucket_table(P.fused_bucket_table)),
            (buckets, "salted_bucket_pairs",
             self.pairs(buckets.salted_bucket_pairs, "salted_bucket_pairs")),
            (P, "verify_fused_pairs", self.verify(P.verify_fused_pairs)),
            (P, "connected_components", self.components(P.connected_components)),
        ]

    def append_swaps(self) -> list:
        """``cli.py append``: the traced store, then inside ``apply_append``
        the batch's extract + sign, ``incremental_edges`` with its bucket
        tables, salted bipartite join and verify, and connected components."""
        from jira_duplicate_detection_turkcell__spark.sources import checkpoint
        from jira_duplicate_detection_turkcell__spark.streaming import incremental as I

        return [
            (checkpoint, "StageStore", traced_store_class(self.tr, self.op_id)),
            (I, "extract_stage", self.batch_extract(I.extract_stage)),
            (I, "signature_stage", self.batch_sign(I.signature_stage)),
            (I, "incremental_edges",
             self.spanned(I.incremental_edges, "incremental_edges", "incremental")),
            (I, "fused_bucket_table", self.bucket_table(I.fused_bucket_table)),
            (I, "salted_bipartite_pairs",
             self.pairs(I.salted_bipartite_pairs, "salted_bipartite_pairs")),
            (I, "verify_fused_pairs", self.verify(I.verify_fused_pairs)),
            (I, "connected_components", self.components(I.connected_components)),
        ]
