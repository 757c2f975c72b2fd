"""Append-vs-rebuild cost evidence — the incremental path's whole point.

Builds a checkpointed base run of ``--base-n`` synthetic pages, then runs
``--trials`` ALTERNATING trials of

  append   — ``--append-n`` new pages onto a fresh COPY of the base state
             (a copy because an append mutates the store; each trial must
             start from the same generation), via the CLI `append`
             subcommand under spark-submit — the deployment shape;
  rebuild  — one full `dedup` over all base+append pages (in-memory mode:
             no checkpoint commits, which UNDERSTATES the rebuild cost the
             append actually displaces — conservative in our favor's
             opposite direction).

Reports the per-path minimum (the host is noisy — same protocol as
run_scaling.py) and verifies the append's clusters equal the rebuild's via
a DuckDB EXCEPT in both directions. Results print as JSON + a markdown
table to paste into BENCH/BASELINE.md / CONTEXT.md.

Usage:
  python bench/run_append_bench.py [--base-n 800000] [--append-n 100000]
                                   [--cores 8] [--trials 2]
"""

from __future__ import annotations

import argparse
import json
import shutil
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
SPARK_SUBMIT = "/opt/spark/bin/spark-submit"


def submit(cores: int, cli_args: list[str]) -> dict:
    # the CLI deliberately uses the plain builder (the deployment shape);
    # a real cluster passes sizing/tuning via spark-submit --conf exactly
    # like this (values mirror session.py — the measured engine config,
    # memory sized for this host; the 1 GB driver default OOMs at n=800k)
    from jira_duplicate_detection_turkcell__spark.session import memory_sizes

    heap, offheap = memory_sizes()
    cmd = [
        SPARK_SUBMIT,
        "--master", f"local[{cores}]",
        "--driver-memory", heap,
        "--conf", f"spark.sql.shuffle.partitions={cores * 4}",
        "--conf", "spark.sql.adaptive.enabled=true",
        "--conf", "spark.sql.adaptive.advisoryPartitionSizeInBytes=16MB",
        "--conf", "spark.sql.join.preferSortMergeJoin=false",
        "--conf", "spark.memory.offHeap.enabled=true",
        "--conf", f"spark.memory.offHeap.size={offheap}",
        "--conf", "spark.driver.extraJavaOptions=-XX:+UseParallelGC -XX:NewRatio=1",
        "--conf", f"spark.sql.files.maxPartitionBytes={32 * 1024 * 1024}",
        "--conf", "spark.sql.execution.arrow.pyspark.enabled=true",
        "--py-files", str(REPO / "dist" / "jdt_spark.zip"),
        str(REPO / "jira_duplicate_detection_turkcell__spark" / "cli.py"),
        *cli_args,
    ]
    # pin to N physical CPUs so "local[N]" means N cores (see run_scaling.py)
    if shutil.which("taskset"):
        cmd = ["taskset", "-c", f"0-{cores - 1}"] + cmd
    out = subprocess.run(cmd, capture_output=True, text=True, cwd=REPO, check=True)
    last = [l for l in out.stdout.strip().splitlines() if l.startswith("{")][-1]
    return json.loads(last)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--base-n", type=int, default=800_000)
    ap.add_argument("--append-n", type=int, default=100_000)
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument("--trials", type=int, default=2)
    ap.add_argument("--workdir", default="/tmp/append_bench")
    args = ap.parse_args()
    # --py-files ships the zip of the current source tree, never a stale one
    subprocess.run(
        ["bash", str(REPO / "scripts" / "make_pyfiles.sh")], check=True, cwd=REPO,
        capture_output=True,
    )

    total = args.base_n + args.append_n
    work = Path(args.workdir)
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    state = work / "state"

    print(f"building checkpointed base: n={args.base_n} of {total} …", flush=True)
    base = submit(args.cores, [
        "dedup", "--synth-n", str(args.base_n), "--synth-total", str(total),
        "--output", str(work / "base_out"), "--checkpoint-dir", str(state),
    ])
    print(f"base: {base['seconds']}s, {base['clusters']} clusters", flush=True)

    append_times: list[float] = []
    rebuild_times: list[float] = []
    for trial in range(args.trials):
        trial_state = work / f"state_t{trial}"
        shutil.copytree(state, trial_state)
        app = submit(args.cores, [
            "append", "--synth-n", str(args.append_n),
            "--synth-start", str(args.base_n), "--synth-total", str(total),
            "--output", str(work / "append_out"), "--state-dir", str(trial_state),
        ])
        append_times.append(app["seconds"])
        shutil.rmtree(trial_state)
        reb = submit(args.cores, [
            "dedup", "--synth-n", str(total),
            "--output", str(work / "rebuild_out"),
        ])
        rebuild_times.append(reb["seconds"])
        print(
            f"trial {trial + 1}: append {app['seconds']}s "
            f"({app['clusters']} clusters), rebuild {reb['seconds']}s "
            f"({reb['clusters']} clusters)",
            flush=True,
        )

    import duckdb

    mismatches = duckdb.sql(
        f"""SELECT count(*) FROM (
          (SELECT * FROM parquet_scan('{work}/append_out/*.parquet')
           EXCEPT SELECT * FROM parquet_scan('{work}/rebuild_out/*.parquet'))
          UNION ALL
          (SELECT * FROM parquet_scan('{work}/rebuild_out/*.parquet')
           EXCEPT SELECT * FROM parquet_scan('{work}/append_out/*.parquet'))
        )"""
    ).fetchone()[0]

    t_app, t_reb = min(append_times), min(rebuild_times)
    summary = {
        "workload": (
            f"append {args.append_n} onto checkpointed {args.base_n} vs "
            f"rebuild {total}, local[{args.cores}], min of {args.trials} "
            f"alternating trials"
        ),
        "base_build_sec": base["seconds"],
        "append_sec": t_app,
        "append_trials": append_times,
        "rebuild_sec": t_reb,
        "rebuild_trials": rebuild_times,
        "speedup_vs_rebuild": round(t_reb / t_app, 2),
        "append_docs_per_sec": round(args.append_n / t_app, 1),
        "identical_clusters": mismatches == 0,
    }
    print(json.dumps(summary))
    print(f"""
| path | wall (s), min of {args.trials} | docs processed | docs/s |
|---|---|---|---|
| append {args.append_n:,} onto {args.base_n:,} (CLI, incl. state commit) | {t_app} | {args.append_n:,} | {summary['append_docs_per_sec']} |
| full rebuild {total:,} (in-memory, no commits) | {t_reb} | {total:,} | {round(total / t_reb, 1)} |

append is **{summary['speedup_vs_rebuild']}×** cheaper than the rebuild it replaces; identical clusters: **{mismatches == 0}**
""")
    if mismatches == 0:
        shutil.rmtree(work, ignore_errors=True)
    else:
        # a cluster mismatch is the one result that demands investigation —
        # keep the divergent outputs instead of forcing a multi-minute re-run
        print(f"cluster mismatch ({mismatches} rows) — outputs kept at {work}")


if __name__ == "__main__":
    main()
