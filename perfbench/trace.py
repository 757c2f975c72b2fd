"""Spans around the benchmark's calls into engine layers, with Spark's own
task counters attached per span.

Every span runs its Spark jobs under its own job group
(``sc.setJobGroup``); after the traced op the driver's status REST API
(``/api/v1/applications/<app>/jobs`` and ``/stages`` on the localhost UI)
gives each group's jobs and their stages' task time, GC, shuffle writes and
spills. Spans are held in memory and written out as JSON when the run ends.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from . import host

LAYERS = (
    "extract",
    "signatures",
    "buckets",
    "verify",
    "components",
    "checkpoint",
    "incremental",
)
COMMON = (
    ("wall_s", "s"),
    ("self_s", "s"),
    ("task_s", "s"),
    ("gc_s", "s"),
    ("util", "ratio"),
    ("shuffle_write_mb", "MB"),
    ("spill_mb", "MB"),
    ("jobs", "count"),
)
CKPT_STAGES = ("docs", "signatures", "edges_minhash", "edges_simhash", "edges", "clusters")
CMP_PARTS = ("extract", "signatures", "edges", "components", "total")

# every per-layer metric a traced run prints, in BENCHMARK.json order
PER_LAYER: list[tuple[str, str]] = (
    [("session.start_s", "s")]
    + [(f"{layer}.{c}", u) for layer in LAYERS for c, u in COMMON]
    + [
        ("extract.py_cpu_s", "s"),
        ("extract.rows_out", "count"),
        ("signatures.py_cpu_s", "s"),
        ("signatures.cached_mb", "MB"),
        ("buckets.bucket_rows", "count"),
        ("buckets.candidate_rows", "count"),
        ("buckets.hot_buckets", "count"),
        ("buckets.hot_max_est_size", "count"),
        ("verify.edges", "count"),
        ("verify.edges_per_candidate", "ratio"),
        ("components.edges_in", "count"),
        ("components.path", "code"),
        ("components.distributed_s", "s"),
    ]
    + [
        (f"checkpoint.{st}.{c}", u)
        for st in CKPT_STAGES
        for c, u in (("wall_s", "s"), ("bytes_written", "B"), ("files", "count"))
    ]
    + [
        ("checkpoint.txn_commit_s", "s"),
        ("incremental.new_edges", "count"),
        ("op.jobs", "count"),
        ("op.stages", "count"),
        ("op.jvm_peak_rss_mb", "MB"),
        ("trace.overhead_ratio", "ratio"),
    ]
    + [(f"cmp.{p}.{side}_s", "s") for p in CMP_PARTS for side in ("inmem", "ckpt")]
)


@dataclass
class Span:
    span_id: int
    name: str
    layer: str
    op_id: str
    parent: int | None
    group: str
    start: float
    end: float = 0.0
    py_cpu_s: float = 0.0
    counters: dict = field(default_factory=dict)


class Tracer:
    """Collects nested spans. ``set_group(group_or_None)`` is called on
    every span boundary so Spark jobs land in the innermost open span."""

    def __init__(self, set_group, clock=time.perf_counter, py_cpu=None):
        self._set_group = set_group
        self._clock = clock
        self._py_cpu = py_cpu or (
            lambda: host.python_workers_cpu_s(host.process_tree())
        )
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, layer: str, op_id: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            span_id=len(self.spans),
            name=name,
            layer=layer,
            op_id=op_id,
            parent=parent.span_id if parent else None,
            group=f"perfbench:{op_id}:{len(self.spans)}:{name}",
            start=0.0,
        )
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp.group)
        cpu0 = self._py_cpu()
        sp.start = self._clock()
        try:
            yield sp
        finally:
            sp.end = self._clock()
            sp.py_cpu_s = self._py_cpu() - cpu0
            self._stack.pop()
            self._set_group(parent.group if parent else None)

    def to_json(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def self_times(spans: list[Span]) -> dict[int, float]:
    """span_id → wall time minus the part of it covered by child spans
    (overlapping children are merged, children are clipped to the parent)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_a, cur_b = 0.0, None, None
        for k in sorted(kids.get(s.span_id, []), key=lambda k: k.start):
            a, b = max(k.start, s.start), min(k.end, s.end)
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s.span_id] = (s.end - s.start) - covered
    return out


def aggregate_rest(jobs: list[dict], stages: list[dict]) -> dict[str, dict]:
    """Per job group: job count, executed stage count, summed task time,
    GC, shuffle writes and disk spill from the REST ``jobs`` and ``stages``
    lists. A stage is counted once even when several jobs list it; skipped
    and unfinished attempts carry no task time and are left out."""
    by_stage: dict[int, list[dict]] = {}
    for st in stages:
        if st.get("status") in ("COMPLETE", "FAILED"):
            by_stage.setdefault(st["stageId"], []).append(st)
    out: dict[str, dict] = {}
    seen: dict[str, set] = {}
    for job in jobs:
        group = job.get("jobGroup")
        if group is None:
            continue
        agg = out.setdefault(
            group,
            {"jobs": 0, "stages": 0, "task_s": 0.0, "gc_s": 0.0,
             "shuffle_write_mb": 0.0, "spill_mb": 0.0},
        )
        agg["jobs"] += 1
        done = seen.setdefault(group, set())
        for sid in job.get("stageIds", []):
            if sid in done or sid not in by_stage:
                continue
            done.add(sid)
            for att in by_stage[sid]:
                agg["stages"] += 1
                agg["task_s"] += att.get("executorRunTime", 0) / 1e3
                agg["gc_s"] += att.get("jvmGcTime", 0) / 1e3
                agg["shuffle_write_mb"] += att.get("shuffleWriteBytes", 0) / 1e6
                agg["spill_mb"] += att.get("diskBytesSpilled", 0) / 1e6
    return out


def _get_json(url: str):
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.loads(resp.read())


def fetch_rest(ui_url: str, app_id: str, groups: set[str], timeout_s: float = 30.0):
    """(jobs, stages) of ``groups`` once the status store has caught up with
    the actions: every job ended (a stage's metrics are final before its
    job ends) and the job list stopped growing between two reads."""
    base = f"{ui_url}/api/v1/applications/{app_id}"
    deadline = time.monotonic() + timeout_s
    seen = -1
    while True:
        jobs = [j for j in _get_json(f"{base}/jobs") if j.get("jobGroup") in groups]
        ended = all(j.get("status") in ("SUCCEEDED", "FAILED") for j in jobs)
        if (ended and len(jobs) == seen) or time.monotonic() > deadline:
            return jobs, _get_json(f"{base}/stages")
        seen = len(jobs)
        time.sleep(0.2)


def inclusive_counters(spans: list[Span], by_group: dict[str, dict]) -> dict[int, dict]:
    """span_id → REST counters of the span's own jobs plus its descendants'."""
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s.span_id)
    own = {s.span_id: by_group.get(s.group, {}) for s in spans}
    keys = ("jobs", "stages", "task_s", "gc_s", "shuffle_write_mb", "spill_mb")
    memo: dict[int, dict] = {}

    def total(sid: int) -> dict:
        if sid not in memo:
            acc = {k: own[sid].get(k, 0) for k in keys}
            for k in kids.get(sid, []):
                sub = total(k)
                for key in keys:
                    acc[key] += sub[key]
            memo[sid] = acc
        return memo[sid]

    return {s.span_id: total(s.span_id) for s in spans}


def layer_metrics(spans: list[Span], by_group: dict[str, dict], cores: int) -> dict[str, float]:
    """Common counters per layer, summed over the layer's outermost spans
    (a span nested in a span of the same layer is already inside it)."""
    selfs = self_times(spans)
    incl = inclusive_counters(spans, by_group)
    by_id = {s.span_id: s for s in spans}
    out: dict[str, float] = {}
    for layer in LAYERS:
        tops = [
            s for s in spans
            if s.layer == layer
            and (s.parent is None or by_id[s.parent].layer != layer)
        ]
        # self time of a layer: its spans' wall minus time in other layers'
        # spans nested inside them (same-layer descendants stay counted)
        wall = sum(s.end - s.start for s in tops)
        self_s = sum(selfs[s.span_id] for s in spans if s.layer == layer)
        task = sum(incl[s.span_id]["task_s"] for s in tops)
        out[f"{layer}.wall_s"] = wall
        out[f"{layer}.self_s"] = self_s
        out[f"{layer}.task_s"] = task
        out[f"{layer}.gc_s"] = sum(incl[s.span_id]["gc_s"] for s in tops)
        out[f"{layer}.util"] = task / (wall * cores) if wall > 0 else 0.0
        out[f"{layer}.shuffle_write_mb"] = sum(incl[s.span_id]["shuffle_write_mb"] for s in tops)
        out[f"{layer}.spill_mb"] = sum(incl[s.span_id]["spill_mb"] for s in tops)
        out[f"{layer}.jobs"] = sum(incl[s.span_id]["jobs"] for s in tops)
    return out
