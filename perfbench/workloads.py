"""The benchmark's workloads: inputs, one op, its correctness check, and the
same op traced with layer probes (probes.py).

Every op is closed-loop with one client: the next op starts when the
previous one has returned. Inputs are the seeded synthetic corpus of
``synth.py``, written once per run (untimed, part of set-up) and
bit-identical for equal seeds.
"""

from __future__ import annotations

import contextlib
import importlib.util
import inspect
import shutil
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

from . import host
from .probes import Probes, swapped, traced_store_class
from .stats import cluster_digest

ENGINE = "jira_duplicate_detection_turkcell__spark"
JACCARD_MIN = 0.7
HAMMING_MAX = 3


def _quiet():
    """The CLI prints its JSON report to stdout; the benchmark's stdout ends
    with its own result line, so CLI output goes to stderr."""
    return contextlib.redirect_stdout(sys.stderr)


def read_clusters(spark, path: str) -> tuple[str, int]:
    """(digest, cluster count) of a written (url, cluster_id) parquet dir."""
    rows = [(r[0], r[1]) for r in spark.read.parquet(path).select("url", "cluster_id").collect()]
    return cluster_digest(rows), len({cid for _, cid in rows})


def load_oracle(root: Path):
    spec = importlib.util.spec_from_file_location(
        "oracle_bruteforce", root / "tests" / "oracle_bruteforce.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def edge_recheck(oracle, edges, docs, signed, w: int = 3) -> tuple[int, list]:
    """Recheck every edge independently of the engine's verify step: an
    edge holds if the word-``w``-gram Jaccard of the two extracted texts is
    ≥ 0.7, or the Hamming distance of the engine's simhashes is ≤ 3.
    Returns (edges checked, edges that hold by neither)."""
    pairs = [(r[0], r[1]) for r in edges.select("key_l", "key_r").collect()]
    ends = {u for p in pairs for u in p}
    texts = {r[0]: r[1] for r in docs.select("url", "text").collect() if r[0] in ends}
    sims = {r[0]: r[1] for r in signed.select("url", "simhash").collect() if r[0] in ends}
    known = texts.keys() & sims.keys()
    grams: dict[str, frozenset] = {}
    bad = []
    for a, b in pairs:
        if a not in known or b not in known:
            bad.append((a, b, None, None))  # an edge to a page the state lacks
            continue
        for u in (a, b):
            if u not in grams:
                grams[u] = oracle.word_grams(texts[u], w)
        jac = oracle.jaccard(grams[a], grams[b])
        ham = bin((sims[a] ^ sims[b]) & ((1 << 64) - 1)).count("1")
        if jac < JACCARD_MIN and ham > HAMMING_MAX:
            bad.append((a, b, jac, ham))
    return len(pairs), bad


def cc_gate() -> int:
    from jira_duplicate_detection_turkcell__spark.operators.components import (
        connected_components,
    )

    return inspect.signature(connected_components).parameters["small_graph_edges"].default


class Workload:
    """Shared plumbing. Subclasses define ``setup``, ``prepare``, ``op``,
    ``written_dirs`` and ``traced``; ``docs`` is the page count one op
    ingests."""

    name = ""
    docs = 0
    # ops a run measures at least, whatever ``--seconds`` says: three, so
    # that the median is not moved by one slow op, where ops are short
    min_ops = 3

    def __init__(self, work: Path, seed: int, cores: int, n_docs: int):
        self.spark = None  # set once the session is up; write_inputs needs none
        self.work = work
        self.seed = seed
        self.cores = cores
        self.n_docs = n_docs
        self.ref_digest = ""
        self.ref_clusters = 0
        self.checks: dict[str, object] = {}
        self.phases: dict[str, float] = {}

    @contextlib.contextmanager
    def phase(self, name: str):
        """Times one set-up phase into ``phases`` (reported, not a metric)."""
        t0 = time.perf_counter()
        yield
        self.phases[name] = time.perf_counter() - t0

    def write_pages(self, name: str, n: int, start: int = 0, total: int | None = None) -> str:
        """Pages ``[start, start+n)`` of a ``total``-page corpus as
        ``cores * 2`` parquet files: the ``synth.page_row`` rows that
        ``synth.generate_pages_df`` yields (site count from ``total``),
        written with pyarrow so that no Spark session is needed yet."""
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        from jira_duplicate_detection_turkcell__spark import synth

        schema = pa.schema([  # synth.PAGES_SCHEMA
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("html", pa.binary()),
            ("lang", pa.string()),
            ("group_id", pa.int64()),
            ("kind", pa.int32()),
        ])
        n_sites = synth.n_sites_for(total if total is not None else start + n)
        path = self.work / name
        path.mkdir(parents=True)
        files = self.cores * 2
        for f in range(files):
            a, b = start + n * f // files, start + n * (f + 1) // files
            pdf = pd.DataFrame([synth.page_row(self.seed, i, n_sites) for i in range(a, b)])
            pq.write_table(
                pa.Table.from_pandas(pdf, schema=schema, preserve_index=False),
                str(path / f"part-{f:05d}.parquet"),
            )
        return str(path)

    def cfg(self):
        from jira_duplicate_detection_turkcell__spark.plans.pipeline import DedupConfig

        return DedupConfig()

    def check(self, out: str, state: str | None = None) -> tuple[bool, str, int]:
        digest, n_clusters = read_clusters(self.spark, out)
        return digest == self.ref_digest, digest, n_clusters


class InmemBulk(Workload):
    """``run_dedup`` in-memory over the whole corpus, clusters to parquet."""

    name = "inmem_bulk"

    def write_inputs(self) -> None:
        self.docs = self.n_docs
        with self.phase("write_pages"):
            self.corpus = self.write_pages("pages", self.n_docs)

    # untimed ops before the measured ones: an op's CPU time keeps falling
    # over the first three of a session (about 21, 15, then 12 CPU-seconds
    # at 4000 pages on 4 vCPUs) before it levels off
    warmup_ops = 3

    def setup(self, oracle) -> None:
        """Untimed warm-up ops. The first gives the reference clustering,
        whose edges are rechecked."""
        from jira_duplicate_detection_turkcell__spark.plans import pipeline as P

        out = str(self.work / "warmup_out")
        with self.phase("warmup_op"):
            res = P.run_dedup(self.spark, self.spark.read.parquet(self.corpus), self.cfg())
            res["clusters"].write.parquet(out)
        self.ref_digest, self.ref_clusters = read_clusters(self.spark, out)
        with self.phase("edge_recheck"):
            n, bad = edge_recheck(oracle, res["edges"], res["docs"], res["signatures"])
        self.checks["edges_rechecked"] = n
        self.checks["edges_invalid"] = bad[:5]
        self.checks["edge_recheck_ok"] = n > 0 and not bad
        with self.phase("more_warmup_ops"):
            for i in range(1, self.warmup_ops):
                self.spark.catalog.clearCache()
                self.op(self.prepare(f"_warmup{i}"))

    def prepare(self, i: int) -> dict:
        return {"out": str(self.work / f"out{i}")}

    def op(self, p: dict) -> None:
        from jira_duplicate_detection_turkcell__spark.plans import pipeline as P

        res = P.run_dedup(self.spark, self.spark.read.parquet(self.corpus), self.cfg())
        res["clusters"].write.parquet(p["out"])

    def written_dirs(self, p: dict) -> list[str]:
        return [p["out"]]

    def traced(self, tr) -> dict:
        """The op itself with layer probes installed (see probes.py); then
        ``ckpt_cli`` — ``cli.py dedup --checkpoint-dir`` over the same
        corpus, with the traced StageStore — and the forced distributed
        connected components on the op's edges."""
        from jira_duplicate_detection_turkcell__spark import cli
        from jira_duplicate_detection_turkcell__spark.operators.components import (
            connected_components,
        )
        from jira_duplicate_detection_turkcell__spark.plans import pipeline as P
        from jira_duplicate_detection_turkcell__spark.sources import checkpoint

        spark, cfg, op_id = self.spark, self.cfg(), self.name
        out = str(self.work / "trace_out")
        probes = Probes(tr, op_id, spark)
        with swapped(probes.inmem_swaps()), tr.span(op_id, "op", op_id) as root:
            res = P.run_dedup(spark, spark.read.parquet(self.corpus), cfg)
            res["clusters"].write.parquet(out)
        ok, digest, _ = self.check(out)
        self.checks["trace_inmem_equal"] = ok
        cnt = probes.cnt
        n_edges = probes.edge_counts[0]
        bucket_counters(tr, probes)
        cnt["verify.edges_per_candidate"] = cnt["verify.edges"] / max(cnt["buckets.candidate_rows"], 1)
        cnt["components.edges_in"] = n_edges
        cnt["components.path"] = 1 if n_edges <= cc_gate() else 2

        dist_out = str(self.work / "trace_cc_distributed")
        with tr.span("cc_distributed", "components_distributed", "cc_distributed") as dist:
            connected_components(
                res["edges"], res["signatures"].select("url"), "url", nodes_unique=True,
                edges_unique=True, small_graph_edges=0,
            ).write.parquet(dist_out)
        cnt["components.distributed_s"] = dist.end - dist.start
        dist_digest, _ = read_clusters(spark, dist_out)
        self.checks["cc_distributed_equal"] = dist_digest == digest
        spark.catalog.clearCache()

        ckpt_out = str(self.work / "trace_ckpt_out")
        store_cls = traced_store_class(tr, "ckpt_cli")
        with swapped([(checkpoint, "StageStore", store_cls)]), _quiet(), \
                tr.span("ckpt_cli", "op", "ckpt_cli") as ck:
            cli.main([
                "dedup", "--input", self.corpus, "--checkpoint-dir",
                str(self.work / "trace_ckpt"), "--output", ckpt_out,
            ])
        self.checks["ckpt_equal_inmem"] = self.check(ckpt_out)[0]
        spark.catalog.clearCache()
        cnt["_root"] = root.span_id
        cnt["_ckpt_root"] = ck.span_id
        return cnt


class AppendCli(Workload):
    """``cli.py append`` of a key-disjoint tail batch onto a fresh copy of a
    checkpointed base built from the rest of the corpus."""

    name = "append_cli"
    # three measured appends, whatever ``--seconds`` says, so that one op
    # slowed by the host does not move the median. An append keeps getting
    # faster over the first five or so of a session (JIT compilation: the
    # JVM's user CPU for the second to the fifth append of one run was 21,
    # 15, 16 and 13 s on 4 vCPUs), so the median of the second to the
    # fourth is mostly the third
    min_ops = 3
    tail_share = 10  # the batch is 1/10 of the corpus (see README.md)

    def write_inputs(self) -> None:
        n, tail = self.n_docs, self.n_docs // self.tail_share
        self.docs = tail
        with self.phase("write_pages"):
            self.base = self.write_pages("base_pages", n - tail, total=n)
            self.batch = self.write_pages("batch_pages", tail, start=n - tail, total=n)

    def setup(self, oracle) -> None:
        """Untimed jobs. First the checkpointed base, ``cli.py dedup
        --checkpoint-dir`` over every page but the batch. Then, side by side
        from one thread each, the full-corpus in-memory rebuild, which is the
        reference every append must equal, and the warm-up append, on its
        own copy of the base state, checked like an op and the state whose
        edges are rechecked. Both are bound by job latency more than by cores
        (utilization 0.2-0.7 per layer at these sizes), so together they
        take little more than the append alone."""
        from jira_duplicate_detection_turkcell__spark import cli
        from jira_duplicate_detection_turkcell__spark.plans import pipeline as P

        self.oracle = oracle
        rebuild_out = str(self.work / "rebuild_out")
        self.base_state = str(self.work / "base_state")

        def rebuild():
            res = P.run_dedup(
                self.spark, self.spark.read.parquet(self.base, self.batch), self.cfg()
            )
            res["clusters"].write.parquet(rebuild_out)

        with self.phase("base_build"), _quiet():
            cli.main([
                "dedup", "--input", self.base, "--checkpoint-dir", self.base_state,
                "--output", str(self.work / "base_out"),
            ])
        self.spark.catalog.clearCache()
        p = self.prepare("_warmup")
        # one redirect around both threads: redirect_stdout is process-wide
        with self.phase("rebuild_and_warmup_op"), _quiet(), ThreadPoolExecutor(2) as pool:
            for job in [pool.submit(rebuild), pool.submit(self.append, p)]:
                job.result()
        self.ref_digest, self.ref_clusters = read_clusters(self.spark, rebuild_out)
        self.checks["warmup_equal"] = self.check(p["out"], p["state"])[0]

    def check(self, out: str, state: str | None = None) -> tuple[bool, str, int]:
        """Clusters equal to the rebuild's; the first appended state's (the
        warm-up's) edges are also rechecked, once per run."""
        result = super().check(out)
        if state is not None and "edge_recheck_ok" not in self.checks:
            from jira_duplicate_detection_turkcell__spark.sources.checkpoint import StageStore

            store = StageStore(state, config_fingerprint=self.cfg().fingerprint())
            n, bad = edge_recheck(
                self.oracle, store.load(self.spark, "edges"),
                store.load(self.spark, "docs"), store.load(self.spark, "signatures"),
            )
            self.checks["edges_rechecked"] = n
            self.checks["edges_invalid"] = bad[:5]
            self.checks["edge_recheck_ok"] = n > 0 and not bad
        return result

    def prepare(self, i) -> dict:
        state = str(self.work / f"state{i}")
        shutil.copytree(self.base_state, state)
        return {"state": state, "out": str(self.work / f"out{i}"), "before": host.dir_files(state)}

    def op(self, p: dict) -> None:
        with _quiet():
            self.append(p)

    def append(self, p: dict) -> None:
        """``cli.py append``; its report goes to stdout (see ``_quiet``)."""
        from jira_duplicate_detection_turkcell__spark import cli

        cli.main(["append", "--input", self.batch, "--state-dir", p["state"], "--output", p["out"]])

    def written_dirs(self, p: dict) -> list[str]:
        return [p["state"], p["out"]]

    def traced(self, tr) -> dict:
        """The op itself — ``cli.py append`` onto a fresh copy of the base
        state — with layer probes installed (see probes.py)."""
        from jira_duplicate_detection_turkcell__spark import cli
        from jira_duplicate_detection_turkcell__spark.sources.checkpoint import StageStore

        spark, cfg, op_id = self.spark, self.cfg(), self.name
        p = self.prepare("_trace")
        probes = Probes(tr, op_id, spark)
        with swapped(probes.append_swaps()), _quiet(), tr.span(op_id, "op", op_id) as root:
            cli.main([
                "append", "--input", self.batch, "--state-dir", p["state"],
                "--output", p["out"],
            ])
        self.checks["trace_append_equal_rebuild"] = self.check(p["out"])[0]
        cnt = probes.cnt
        bucket_counters(tr, probes)
        with tr.span("counters", "counters", "counters"):
            # the edge list the components ran on is the committed edge stage
            store = StageStore(p["state"], config_fingerprint=cfg.fingerprint())
            edges_in = store.load(spark, "edges").count()
        cnt["verify.edges_per_candidate"] = cnt["verify.edges"] / max(cnt["buckets.candidate_rows"], 1)
        cnt["incremental.new_edges"] = cnt["verify.edges"]
        cnt["components.edges_in"] = edges_in
        cnt["components.path"] = 1 if edges_in <= cc_gate() else 2
        spark.catalog.clearCache()
        cnt["_root"] = root.span_id
        return cnt


def bucket_counters(tr, probes) -> None:
    """Bucket-table rows and salted hot buckets of the traced op, counted
    after it in a span of their own, so their jobs enter no layer's time."""
    from pyspark.sql import functions as F

    with tr.span("counters", "counters", "counters"):
        rows = sum(t.count() for t in probes.bucket_tables)
        hot = [
            h.agg(F.count(F.lit(1)), F.max("est_size")).collect()[0]
            for h in probes.hot_tables
        ]
    probes.cnt["buckets.bucket_rows"] = rows
    probes.cnt["buckets.hot_buckets"] = sum(r[0] for r in hot)
    probes.cnt["buckets.hot_max_est_size"] = max((r[1] or 0 for r in hot), default=0)


WORKLOADS = {w.name: w for w in (InmemBulk, AppendCli)}
