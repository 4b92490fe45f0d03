"""Benchmark entry point: one seeded closed-loop workload per run.

    python3 perfbench/run.py --workload fs_maintenance --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 8 --trace 0

One client in one process drives the system on ``local[nproc]``. The run
starts a Spark session, sets up the workload's inputs (several times,
reporting the median) and warms it up, times the workload's calls into
the system for ``--seconds`` seconds of call time, checks every output,
and prints two JSON lines: a full record (every figure with its unit,
sample counts, load sentinel, nproc, checks, and with ``--trace 1`` the
spans and per-layer self times), then the result line. With
``--trace 0`` the result carries the end-to-end metrics; with
``--trace 1`` the per-layer metrics. A failed check or call makes the
command exit 1. ``--workload all`` runs every workload in turn, each in
its own process. See README.md in this directory.
"""

from __future__ import annotations

import argparse
import importlib
import json
import signal
import subprocess
import sys
import time
import traceback
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench.common import REPO_ROOT, Checks, RunRoot, Tracer, become_subreaper, nproc, stop_engine  # noqa: E402
from perfbench.llm_pipeline import QUERIES  # noqa: E402

WORKLOADS = {
    "fs_maintenance": ("perfbench.fs_maintenance", "FsMaintenance"),
    "lakehouse": ("perfbench.lakehouse", "Lakehouse"),
    "llm_pipeline": ("perfbench.llm_pipeline", "LlmPipeline"),
}

END_TO_END = {
    "setup_s": "s",
    "cycle_cpu_s": "s",
    "slowest_op_cpu_s": "s",
    "write_amp": "ratio",
    "space_amp": "ratio",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
    "fs.core.list_s": "s",
    "fs.core.entries": "count",
    "fs.distributed.copy_s": "s",
    "fs.distributed.files": "count",
    "fs.distributed.bytes": "B",
    "fs.distributed.tasks": "count",
    "fs.distributed.failed": "count",
    "fs.delta.diff_s": "s",
    "fs.delta.sync_s": "s",
    "fs.delta.jobs": "count",
    "fs.delta.missing": "count",
    "fs.delta.extra": "count",
    "fs.local.move_s": "s",
    "fs.local.delete_s": "s",
    "fs.local.paths": "count",
    "fs.local.failed": "count",
    "acl.modify_s": "s",
    "acl.sync_s": "s",
    "acl.paths": "count",
    "acl.failed": "count",
    "compact.s": "s",
    "compact.files_in": "count",
    "compact.files_out": "count",
    "compact.bytes_rewritten": "B",
    "manifest.commit_s": "s",
    "manifest.commit_jobs": "count",
    "manifest.files_written": "count",
    "manifest.bytes_written": "B",
    "manifest.read_pruned_s": "s",
    "manifest.time_travel_s": "s",
    "manifest.files_scanned_ratio": "ratio",
    "merge.upsert_s": "s",
    "merge.jobs": "count",
    "merge.bytes_rewritten": "B",
    "manifest.compact_s": "s",
    "manifest.compact_bytes_rewritten": "B",
    "manifest.vacuum_s": "s",
    "manifest.vacuum_files_deleted": "count",
}
for _q in QUERIES:
    for _what, _unit in (("build_s", "s"), ("build_jobs", "count"), ("exec_s", "s"), ("exec_jobs", "count"),
                         ("shuffle_write_bytes", "B")):
        PER_LAYER[f"llm_pipeline.{_q}.{_what}"] = _unit


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def run(args, root: RunRoot, record: dict, checks: Checks) -> None:
    """Set up, measure and check one workload, filling ``record``."""
    from perfbench.common import engine_cpu_s, jvm_peak_rss_mb, load_sentinel, start_spark

    module, cls = WORKLOADS[args.workload]
    t0 = time.perf_counter()
    spark = start_spark(root)
    start_s = time.perf_counter() - t0
    record.update(workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace, nproc=nproc())
    tracer = Tracer(spark, bool(args.trace))
    wl = getattr(importlib.import_module(module), cls)(spark, tracer, checks, root.data(args.workload), args.seed)
    # The sentinel runs before set-up, so the warm-up absorbs what its
    # 4M-row job leaves behind (garbage, compiled code) before the loop.
    # Its first runs compile and warm it; only warm runs are recorded.
    for _ in range(2):
        load_sentinel(spark)
    record["load_sentinel_s"] = [load_sentinel(spark)]
    setup_work_s = wl.setup()
    tracer.reset()
    cpu0 = engine_cpu_s()
    wall0 = time.perf_counter()
    wl.measure(args.seconds)
    wall1 = time.perf_counter()
    record["measure_cpu_s"] = engine_cpu_s() - cpu0
    wl.finish()
    wall2 = time.perf_counter()
    record["load_sentinel_s"].append(load_sentinel(spark))
    record["peak_rss_mb"] = jvm_peak_rss_mb(spark)
    record["phases_s"] = {"session_start": start_s, "setup": setup_work_s, "measure": wall1 - wall0,
                          "finish": wall2 - wall1}
    e2e = wl.end_to_end()
    e2e["setup_s"] = start_s + setup_work_s
    record["end_to_end"] = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    record["detail"] = {k[1:]: v for k, v in e2e.items() if k.startswith("_")}
    if args.trace:
        layers = {k: 0 for k in PER_LAYER}
        layers.update(wl.per_layer())
        layers["session.start_s"] = start_s
        layers["session.peak_rss_mb"] = jvm_peak_rss_mb(spark)
        layers["trace.overhead_s"] = tracer.overhead_s
        record["per_layer"] = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
        record["self_s"] = tracer.self_times()
        record["spans"] = tracer.dump()


def main(argv=None) -> int:
    args = parse_args(argv)
    # A termination request unwinds through the ``finally`` below, which
    # stops the JVM and its workers and removes the run root; a
    # terminated run prints no result.
    terminated = []

    def on_sigterm(*_):
        terminated.append(True)
        sys.exit(143)

    signal.signal(signal.SIGTERM, on_sigterm)
    if not (REPO_ROOT / "octopufs_spark").is_dir():
        print(f"perfbench: no octopufs_spark package in {REPO_ROOT}", file=sys.stderr)
        return 2
    if args.workload == "all":
        failed = 0
        for name in WORKLOADS:
            argv = ["--workload", name, "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
            failed += subprocess.call([sys.executable, __file__, *argv]) != 0
        return 1 if failed else 0
    become_subreaper()
    root = RunRoot(args.workload)
    root.enter()
    record: dict = {}
    checks = Checks()
    try:
        run(args, root, record, checks)
        failed_calls = 0
    except Exception:
        traceback.print_exc()
        failed_calls = 1
    finally:
        stop_engine(graceful=not terminated)
        root.remove()
    if terminated:
        return 143

    record["checks"] = {"attempted": checks.attempted, "failed": checks.failures}
    print(json.dumps({"record": record}), flush=True)
    failed = len(checks.failures) + failed_calls
    ok = failed == 0 and "end_to_end" in record
    metrics = record.get("per_layer" if args.trace else "end_to_end", {})
    attempted = checks.attempted + record.get("detail", {}).get("calls", 0) + failed_calls
    print(json.dumps({"correct": ok, "attempted": max(1, attempted), "failed": failed, "metrics": metrics}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
