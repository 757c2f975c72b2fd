"""Unit tests for the benchmark's own helpers (no Spark).

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import statistics
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import host, probes, run, stats, trace  # noqa: E402
from perfbench.trace import Span  # noqa: E402


def span(sid, start, end, parent=None, layer="x", group=None):
    return Span(
        span_id=sid, name=f"s{sid}", layer=layer, op_id="op", parent=parent,
        group=group or f"g{sid}", start=start, end=end,
    )


def test_self_times_nested_children():
    spans = [
        span(0, 0.0, 10.0),
        span(1, 1.0, 4.0, parent=0),
        span(2, 3.0, 6.0, parent=0),  # overlaps its sibling: 1..6 covered once
        span(3, 8.0, 12.0, parent=0),  # runs past the parent: clipped to 8..10
        span(4, 1.5, 2.0, parent=1),  # grandchild: only its parent is charged
    ]
    selfs = trace.self_times(spans)
    assert selfs[0] == pytest.approx(10.0 - 5.0 - 2.0)
    assert selfs[1] == pytest.approx(3.0 - 0.5)
    assert selfs[2] == pytest.approx(3.0)
    assert selfs[4] == pytest.approx(0.5)


def test_layer_metrics_counts_nested_same_layer_once():
    spans = [
        span(0, 0.0, 10.0, layer="checkpoint", group="a"),
        span(1, 2.0, 5.0, parent=0, layer="checkpoint", group="b"),
        span(2, 6.0, 8.0, parent=0, layer="extract", group="c"),
    ]
    by_group = {
        "a": {"jobs": 1, "task_s": 1.0},
        "b": {"jobs": 2, "task_s": 4.0},
        "c": {"jobs": 1, "task_s": 2.0},
    }
    m = trace.layer_metrics(spans, by_group, cores=2)
    assert m["checkpoint.wall_s"] == pytest.approx(10.0)
    # the extract child is another layer's time
    assert m["checkpoint.self_s"] == pytest.approx(8.0)
    assert m["checkpoint.task_s"] == pytest.approx(7.0)
    assert m["checkpoint.jobs"] == 4
    assert m["checkpoint.util"] == pytest.approx(7.0 / (10.0 * 2))
    assert m["extract.wall_s"] == pytest.approx(2.0)
    assert m["extract.task_s"] == pytest.approx(2.0)


def test_tracer_sets_and_restores_job_groups():
    calls = []
    clock = iter(range(100))
    tr = trace.Tracer(calls.append, clock=lambda: next(clock), py_cpu=lambda: 0.0)
    with tr.span("outer", "op", "o") as outer:
        with tr.span("inner", "extract", "o") as inner:
            pass
    assert calls == [outer.group, inner.group, outer.group, None]
    assert inner.parent == outer.span_id and outer.parent is None
    assert outer.start < inner.start < inner.end < outer.end


def test_cluster_digest_is_order_independent():
    rows = [("u1", "u1"), ("u2", "u1"), ("u3", "u3")]
    assert stats.cluster_digest(rows) == stats.cluster_digest(list(reversed(rows)))
    assert stats.cluster_digest(rows) != stats.cluster_digest([("u1", "u1"), ("u2", "u2"), ("u3", "u3")])


def test_summarize_median_quartiles_and_count():
    values = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0]
    s = stats.summarize(values)
    q1, med, q3 = statistics.quantiles(values, n=4)
    assert s == {"n": 6, "median": med, "q1": q1, "q3": q3}
    assert s["median"] == statistics.median(values)
    assert stats.summarize([7.0]) == {"n": 1, "median": 7.0, "q1": 7.0, "q3": 7.0}
    with pytest.raises(ValueError):
        stats.summarize([])


def test_aggregate_rest_per_job_group():
    jobs = [
        {"jobId": 0, "jobGroup": "g1", "status": "SUCCEEDED", "stageIds": [0, 1]},
        # a later job of the same group lists stage 1 again (skipped there)
        {"jobId": 1, "jobGroup": "g1", "status": "SUCCEEDED", "stageIds": [1, 2]},
        {"jobId": 2, "jobGroup": "g2", "status": "SUCCEEDED", "stageIds": [3]},
        {"jobId": 3, "status": "SUCCEEDED", "stageIds": [4]},  # no group
    ]
    stages = [
        {"stageId": 0, "status": "COMPLETE", "executorRunTime": 1500, "jvmGcTime": 100,
         "shuffleWriteBytes": 2_000_000, "diskBytesSpilled": 0},
        {"stageId": 1, "status": "COMPLETE", "executorRunTime": 500, "jvmGcTime": 0,
         "shuffleWriteBytes": 0, "diskBytesSpilled": 3_000_000},
        {"stageId": 2, "status": "SKIPPED", "executorRunTime": 0},
        {"stageId": 3, "status": "COMPLETE", "executorRunTime": 250},
        {"stageId": 4, "status": "COMPLETE", "executorRunTime": 9999},
    ]
    agg = trace.aggregate_rest(jobs, stages)
    assert set(agg) == {"g1", "g2"}
    assert agg["g1"]["jobs"] == 2
    assert agg["g1"]["stages"] == 2
    assert agg["g1"]["task_s"] == pytest.approx(2.0)
    assert agg["g1"]["gc_s"] == pytest.approx(0.1)
    assert agg["g1"]["shuffle_write_mb"] == pytest.approx(2.0)
    assert agg["g1"]["spill_mb"] == pytest.approx(3.0)
    assert agg["g2"]["task_s"] == pytest.approx(0.25)


def test_inclusive_counters_add_descendants():
    spans = [span(0, 0, 10, group="a"), span(1, 1, 2, parent=0, group="b"),
             span(2, 1.2, 1.8, parent=1, group="c")]
    by_group = {"a": {"jobs": 1, "task_s": 1.0}, "c": {"jobs": 3, "task_s": 0.5}}
    incl = trace.inclusive_counters(spans, by_group)
    assert incl[0]["jobs"] == 4 and incl[0]["task_s"] == pytest.approx(1.5)
    assert incl[1]["jobs"] == 3
    assert incl[2]["stages"] == 0


def test_parse_stat_handles_spaces_in_comm():
    line = "123 (my (odd) proc) S 7 1 1 0 -1 0 0 0 0 0 10 20 3 4 20 0 8 0 1 1000 55 0\n"
    st = host.parse_stat(line)
    assert (st.pid, st.ppid, st.comm) == (123, 7, "my (odd) proc")
    assert st.cpu_ticks == 10 + 20 + 3 + 4
    assert st.rss_pages == 55


def test_session_sizes_fit_the_host_and_the_engine_caps():
    assert host.session_sizes(16 * host.GIB) == (4 * host.GIB, 2 * host.GIB)
    assert host.session_sizes(1024 * host.GIB) == (host.DRIVER_HEAP_CAP, host.OFF_HEAP_CAP)
    heap, off = host.session_sizes(host.mem_total_bytes())
    assert heap + off < host.mem_total_bytes()


def test_written_since_counts_new_and_changed_files():
    before = {"a/x.parquet": 10, "a/y.parquet": 5}
    after = {"a/x.parquet": 10, "a/y.parquet": 7, "a/z.parquet": 3, "a/_SUCCESS": 0}
    assert host.written_since(before, after) == (10, 2)


def test_benchmark_json_matches_the_code():
    doc = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert set(doc) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [(m["name"], m["unit"]) for m in doc["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in doc["per_layer"]] == trace.PER_LAYER
    assert {w["name"] for w in doc["workloads"]} == set(run.DEFAULT_DOCS)
    assert 2 <= len(doc["workloads"]) <= 8 and 1 <= len(doc["per_layer"]) <= 128
    names = [m["name"] for m in doc["end_to_end"] + doc["per_layer"]] + [
        w["name"] for w in doc["workloads"]
    ]
    assert len(names) == len(set(names))
    bounds = {m["name"]: m["bound"] for m in doc["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    assert all(len(w["why"]) <= 200 for w in doc["workloads"])


class FakeFrame:
    """Stands in for a DataFrame: ``persist`` returns itself, ``count`` its
    row count and records that it ran."""

    def __init__(self, n):
        self.n, self.persisted, self.counted = n, False, 0

    def persist(self):
        self.persisted = True
        return self

    def count(self):
        self.counted += 1
        return self.n


def test_swapped_restores_module_attributes_after_an_error():
    import types

    mod = types.SimpleNamespace(f=len, g=abs)
    with pytest.raises(RuntimeError):
        with probes.swapped([(mod, "f", str), (mod, "g", str)]):
            assert mod.f is str and mod.g is str
            raise RuntimeError
    assert mod.f is len and mod.g is abs


def test_probes_materialize_inside_their_span_and_count():
    clock = iter(range(100))
    tr = trace.Tracer(lambda g: None, clock=lambda: next(clock), py_cpu=lambda: 0.0)
    pr = probes.Probes(tr, "op", spark=None)
    frames = []

    def pairs(*_args):
        frames.append(FakeFrame(7))
        return frames[-1], "hot"

    wrapped = pr.pairs(pairs, "salted_bucket_pairs")
    with tr.span("op", "op", "op"):
        out = wrapped("buckets")
        wrapped("buckets")
    assert out == (frames[0], "hot")
    assert all(f.persisted and f.counted == 1 for f in frames)
    assert pr.cnt["buckets.candidate_rows"] == 14
    assert pr.hot_tables == ["hot", "hot"]
    assert [(s.name, s.layer, s.parent) for s in tr.spans[1:]] == [
        ("salted_bucket_pairs", "buckets", 0)
    ] * 2


def test_sign_new_batch_span_holds_extract_and_sign():
    clock = iter(range(100))
    tr = trace.Tracer(lambda g: None, clock=lambda: next(clock), py_cpu=lambda: 0.0)
    pr = probes.Probes(tr, "op", spark=None)
    pr.signatures = lambda fn: pr.materialized(fn, "signature_stage", "signatures")
    extract = pr.batch_extract(lambda pages: FakeFrame(3))
    sign = pr.batch_sign(lambda docs, cfg: FakeFrame(3))
    with tr.span("op", "op", "op"):
        docs = extract("pages")
        with tr.span("between", "op", "op"):  # the engine's localCheckpoint
            pass
        sign(docs, "cfg")
        with tr.span("after", "op", "op"):
            pass
    by_name = {s.name: s for s in tr.spans}
    batch = by_name["sign_new_batch"]
    assert batch.layer == "incremental" and batch.parent == 0
    for name in ("extract_stage", "between", "signature_stage"):
        assert by_name[name].parent == batch.span_id
    assert by_name["after"].parent == 0
    assert pr.cnt["extract.rows_out"] == 3


def test_rss_sampler_keeps_the_peak_of_the_sum_per_sample(monkeypatch):
    samples = iter([(10, 1), (4, 9), (6, 2)])
    monkeypatch.setattr(host, "engine_rss_bytes", lambda tree: next(samples))
    monkeypatch.setattr(host, "process_tree", lambda: [])
    sampler = host.RssSampler()
    sampler.reset()
    sampler._sample()
    assert sampler.peaks() == (10, 9, 13)
