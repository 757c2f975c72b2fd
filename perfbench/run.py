"""pages→clusters benchmark of the PySpark dedup engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload inmem_bulk --seed 42 --seconds 10 --trace 0

One run starts a ``local[nproc]`` session sized from /proc/meminfo, writes
the workload's inputs from ``--seed``, runs its untimed set-up (reference
and warm-up jobs), then runs ops back to back (closed loop, one client)
until ``--seconds`` have passed and at least the workload's minimum
number of ops ran, checking every
op's clusters. With ``--trace 1`` it then runs one
traced op whose spans give the per-layer metrics. The last stdout line is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path
from urllib.parse import urlparse

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from perfbench import host, stats, trace, workloads  # noqa: E402

END_TO_END = [
    ("setup_s", "s"),
    ("op_s", "s"),
    ("docs_per_s", "docs/s"),
    ("cpu_s_per_kdoc", "s/kdoc"),
    ("peak_rss_mb", "MB"),
    ("worker_rss_mb", "MB"),
    ("stored_bytes_per_doc", "B/doc"),
]
DEFAULT_DOCS = {"inmem_bulk": 4000, "append_cli": 3000}
PINNED = Path(__file__).resolve().parent / "pinned.json"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=None,
                    help="local[N] cores (default: nproc; more is refused)")
    ap.add_argument("--docs", type=int, default=None,
                    help="corpus size (default: the workload's pinned size)")
    return ap.parse_args(argv)


def start_session(cores: int, heap: int, off_heap: int, work: Path):
    """The engine's own session factory, fitted to the host through public
    knobs: ``SPARK_DRIVER_MEMORY`` and ``get_spark(extra_conf=…)``."""
    os.environ.pop("SPARK_GRAFT_TIMING", None)
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["SPARK_DRIVER_MEMORY"] = f"{heap >> 20}m"
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    # the launcher JVM and the driver JVM keep their temp files in the
    # checkout. The heap free ratios let the collector shrink the heap to
    # its live data at the full collection before each op: with the
    # defaults (40/70) the committed heap stayed where set-up had grown it,
    # and the JVM's RSS during an op ranged 1.7-3.0 GB from run to run;
    # with these it stays within a few percent of 1.15 GB, op time unchanged
    jvm_opts = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        " -XX:MinHeapFreeRatio=10 -XX:MaxHeapFreeRatio=30"
    )
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    os.environ["SPARK_SUBMIT_OPTS"] = jvm_opts
    from jira_duplicate_detection_turkcell__spark.session import get_spark

    spark = get_spark(
        "perfbench",
        cores=cores,
        extra_conf={
            "spark.memory.offHeap.size": f"{off_heap >> 20}m",
            "spark.local.dir": str(tmp),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def pinned_entry(workload: str, seed: int, docs: int) -> dict | None:
    """The pinned reference clustering for this corpus, if there is one."""
    for e in json.loads(PINNED.read_text()):
        if (e["workload"], e["seed"], e["docs"]) == (workload, seed, docs):
            return e
    return None


def clear_between_ops(spark) -> None:
    """Start every op from the same state: no cached tables, an empty
    signed-table cache of the driver-query module, and a compacted JVM heap.
    The full collection shrinks the heap to its live data (see the heap
    free ratios in ``start_session``), so the op's peak RSS does not depend
    on how far earlier jobs had grown the heap."""
    import __spark_entry__

    spark.catalog.clearCache()
    __spark_entry__._SIGNED_CACHE.clear()
    spark.sparkContext._jvm.System.gc()


def run_ops(wl, spark, seconds: float, sampler) -> list[dict]:
    """Closed loop: ops back to back until ``seconds`` have passed and at
    least the workload's ``min_ops`` ran (see workloads.py). Set-up
    of each op (fresh dirs, cache clearing) and its check run outside the
    timed region."""
    records = []
    t_loop = time.perf_counter()
    i = 0
    while len(records) < wl.min_ops or time.perf_counter() - t_loop < seconds:
        clear_between_ops(spark)
        p = wl.prepare(i)
        rec = {"op": i}
        sampler.reset()
        cpu0, steal0 = host.tree_cpu_s(host.process_tree()), host.steal_s()
        t0 = time.perf_counter()
        try:
            wl.op(p)
            rec["op_s"] = time.perf_counter() - t0
            rec["steal_s"] = host.steal_s() - steal0
            rec["cpu_s"] = host.tree_cpu_s(host.process_tree()) - cpu0
            rec["jvm_rss_b"], rec["worker_rss_b"], rec["peak_rss_b"] = sampler.peaks()
            before = p.get("before", {})
            rec["stored_b"] = sum(
                host.written_since(before, host.dir_files(d))[0] for d in wl.written_dirs(p)
            )
            ok, digest, n_clusters = wl.check(p["out"], p.get("state"))
            rec.update(ok=ok, digest=digest, clusters=n_clusters)
        except Exception:
            traceback.print_exc()
            rec["ok"] = False
        records.append(rec)
        i += 1
    return records


def end_to_end(wl, setup_s: float, records: list[dict]) -> tuple[dict, dict]:
    """(metrics, summaries) over the successful ops."""
    good = [r for r in records if r.get("ok")]
    if not good:
        return {}, {}
    series = {
        "op_s": [r["op_s"] for r in good],
        "docs_per_s": [wl.docs / r["op_s"] for r in good],
        "cpu_s_per_kdoc": [r["cpu_s"] / (wl.docs / 1000) for r in good],
        "peak_rss_mb": [r["peak_rss_b"] / 1e6 for r in good],
        "worker_rss_mb": [r["worker_rss_b"] / 1e6 for r in good],
        "stored_bytes_per_doc": [r["stored_b"] / wl.docs for r in good],
    }
    summaries = {k: stats.summarize(v) for k, v in series.items()}
    summaries["setup_s"] = stats.summarize([setup_s])
    metrics = {
        name: {"value": summaries[name]["median"], "unit": unit} for name, unit in END_TO_END
    }
    return metrics, summaries


def per_layer(spark, tracer, cnt: dict, untraced: list[dict], session_s: float, cores: int) -> dict:
    """Every PER_LAYER value of a traced run: REST counters per span, the
    workload's own counters, and figures of the run's untraced ops."""
    ui = urlparse(spark.sparkContext.uiWebUrl)
    groups = {s.group for s in tracer.spans}
    jobs, stage_list = trace.fetch_rest(
        f"http://127.0.0.1:{ui.port}", spark.sparkContext.applicationId, groups
    )
    by_group = trace.aggregate_rest(jobs, stage_list)
    spans = tracer.spans
    values = {name: 0.0 for name, _ in trace.PER_LAYER}
    values.update(trace.layer_metrics(spans, by_group, cores))
    values["session.start_s"] = session_s
    for k, v in cnt.items():
        if not k.startswith("_"):
            values[k] = v
    for s in spans:
        if s.layer == "extract":
            values["extract.py_cpu_s"] += s.py_cpu_s
        elif s.layer == "signatures":
            values["signatures.py_cpu_s"] += s.py_cpu_s
        stage = s.name.removeprefix("checkpoint.")
        if s.layer == "checkpoint" and stage in trace.CKPT_STAGES:
            values[f"checkpoint.{stage}.wall_s"] += s.end - s.start
            values[f"checkpoint.{stage}.bytes_written"] += s.counters.get("bytes_written", 0)
            values[f"checkpoint.{stage}.files"] += s.counters.get("files", 0)
        if s.name == "checkpoint.txn_commit":
            values["checkpoint.txn_commit_s"] += s.end - s.start
    incl = trace.inclusive_counters(spans, by_group)
    root = spans[cnt["_root"]]
    values["op.jobs"] = incl[root.span_id]["jobs"]
    values["op.stages"] = incl[root.span_id]["stages"]
    values["op.jvm_peak_rss_mb"] = statistics.median(r["jvm_rss_b"] for r in untraced) / 1e6
    values["trace.overhead_ratio"] = (
        (root.end - root.start) / statistics.median(r["op_s"] for r in untraced) - 1
    )
    if "_ckpt_root" in cnt:
        ck = spans[cnt["_ckpt_root"]]
        c = values
        inmem = {
            "extract": c["extract.wall_s"],
            "signatures": c["signatures.wall_s"],
            "edges": c["buckets.wall_s"] + c["verify.wall_s"],
            "components": c["components.wall_s"],
            "total": root.end - root.start,
        }
        ckpt = {
            "extract": c["checkpoint.docs.wall_s"],
            "signatures": c["checkpoint.signatures.wall_s"],
            "edges": c["checkpoint.edges_minhash.wall_s"] + c["checkpoint.edges_simhash.wall_s"],
            "components": c["checkpoint.clusters.wall_s"],
            "total": ck.end - ck.start,
        }
        for part in trace.CMP_PARTS:
            values[f"cmp.{part}.inmem_s"] = inmem[part]
            values[f"cmp.{part}.ckpt_s"] = ckpt[part]
    return values


def measure(args, wl, spark, sampler, t_setup: float, session_s: float, cores: int):
    """Set-up, the measured ops and, with ``--trace 1``, the traced op of
    one run → (result line, report)."""
    wl.setup(workloads.load_oracle(ROOT))
    setup_s = time.perf_counter() - t_setup
    pin = pinned_entry(args.workload, args.seed, wl.n_docs)
    if pin is not None:
        wl.checks["pinned_digest_equal"] = (
            pin["digest"] == wl.ref_digest and pin["clusters"] == wl.ref_clusters
        )
    records = run_ops(wl, spark, args.seconds, sampler)
    metrics, summaries = end_to_end(wl, setup_s, records)
    attempted, failed = len(records), sum(1 for r in records if not r.get("ok"))
    report = {
        "setup_s": setup_s, "session_s": session_s, "phases": wl.phases, "ops": records,
        "summaries": summaries,
    }
    if args.trace:
        clear_between_ops(spark)
        sc = spark.sparkContext
        tracer = trace.Tracer(
            lambda g: sc.setJobGroup(g, g) if g else sc.setLocalProperty("spark.jobGroup.id", None)
        )
        attempted += 1
        try:
            cnt = wl.traced(tracer)
            good = [r for r in records if r.get("ok")]
            values = per_layer(spark, tracer, cnt, good, session_s, cores)
            metrics = {name: {"value": values[name], "unit": unit} for name, unit in trace.PER_LAYER}
        except Exception:
            traceback.print_exc()
            failed += 1
            metrics = {}
        report["spans"] = tracer.to_json()
    report.update(ref_digest=wl.ref_digest, ref_clusters=wl.ref_clusters, checks=wl.checks)
    checks_ok = all(v for k, v in wl.checks.items() if k.endswith(("_ok", "_equal")))
    result = {
        "correct": checks_ok and failed == 0 and bool(metrics),
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    return result, report


def print_summary(report: dict, metrics: dict) -> None:
    for name, s in report["summaries"].items():
        print(
            f"  {name:<22} n={s['n']:<3} median={s['median']:.4f} "
            f"q1={s['q1']:.4f} q3={s['q3']:.4f}"
        )
    print(f"  checks {json.dumps(report['checks'], default=str)}")
    phases = {"session": report["session_s"], **report["phases"]}
    print(f"  set-up phases {json.dumps({k: round(v, 3) for k, v in phases.items()})}")
    print(f"  per-op steal_s {[round(r.get('steal_s', 0), 3) for r in report['ops']]}")
    if metrics.get("cmp.total.ckpt_s", {}).get("value"):
        print("  ckpt_cli vs inmem_bulk, wall s per layer:")
        for part in trace.CMP_PARTS:
            a, b = metrics[f"cmp.{part}.inmem_s"]["value"], metrics[f"cmp.{part}.ckpt_s"]["value"]
            print(f"    {part:<12} inmem {a:8.3f}  ckpt {b:8.3f}  ratio {b / a if a else 0:6.2f}")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / workloads.ENGINE).is_dir() or not (ROOT / "tests" / "oracle_bruteforce.py").is_file():
        print(f"perfbench: engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    cores = host.nproc()
    if args.cores is not None and not 1 <= args.cores <= cores:
        print(f"perfbench: --cores {args.cores} refused: this host has {cores}", file=sys.stderr)
        return 2
    cores = args.cores or cores
    mem_total = host.mem_total_bytes()
    heap, off_heap = host.session_sizes(mem_total)
    n_docs = args.docs or DEFAULT_DOCS[args.workload]
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    host_facts = {
        "nproc": host.nproc(), "cores": cores, "mem_total_b": mem_total,
        "driver_heap_b": heap, "off_heap_b": off_heap, "docs": n_docs,
    }
    print(f"perfbench {run_id}: host {json.dumps(host_facts)}", flush=True)

    work = ROOT / ".perfbench" / "work" / f"{run_id}-{os.getpid()}"
    wl = workloads.WORKLOADS[args.workload](work, args.seed, cores, n_docs)
    spark = sampler = None
    try:
        t_setup = time.perf_counter()
        # the inputs need no Spark: write them while the JVM starts
        with ThreadPoolExecutor(1) as pool:
            inputs = pool.submit(wl.write_inputs)
            spark = start_session(cores, heap, off_heap, work)
            session_s = time.perf_counter() - t_setup
            inputs.result()
        wl.spark = spark
        sampler = host.RssSampler().start()
        result, report = measure(args, wl, spark, sampler, t_setup, session_s, cores)
    finally:
        if sampler is not None:
            sampler.close()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    print_summary(report, result["metrics"])
    reports = ROOT / ".perfbench" / "reports"
    reports.mkdir(parents=True, exist_ok=True)
    report_path = reports / f"{run_id}.json"
    report_path.write_text(json.dumps({"run": run_id, "host": host_facts, **report}, indent=1, default=str))
    print(f"  report {report_path.relative_to(ROOT)}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
