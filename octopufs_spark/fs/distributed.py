"""Distributed file copy: fan byte-copies out to executors.

Rebuild of the reference's DistributedExecution (reference:
fs/DistributedExecution.scala:42-84): pairs are dealt round-robin over
the tasks, as the reference's custom partitioner does (:51-60), the
filesystem handles are opened once per task (:64-66), results are
collected and the failed subset retried up to 5 attempts (:72-83).

By default there is one task per core slot, not one per file: a slot
copies one file at a time either way, so the transfers in flight are
the same, while every PySpark task pays a fixed start-up cost before it
moves a byte (mostly ``importlib.invalidate_caches()`` in
``pyspark.worker_util.setup_spark_files`` re-reading ``pyspark.zip``;
measured in SCALE.md).

Python workers have no py4j bridge to Hadoop FileSystems, so the
per-task copy uses pyarrow.fs resolved from the URI inside the task
(SURVEY.md §7 hard-part 1). The reference recommends disabling
speculation for copy jobs (README.md:25); copies here are
overwrite-idempotent, which makes duplicate speculative tasks safe.
"""

from __future__ import annotations

import logging

from pyspark.sql import SparkSession

from octopufs_spark.fs.core import list_tree
from octopufs_spark.fs.model import FsOperationResult, Paths

log = logging.getLogger(__name__)

MAX_ATTEMPTS = 5


def _copy_partition(pairs):
    """Executor-side: copy each (index, src, dst) pair, yielding
    (index, src, ok, cause).

    Each URI is resolved on its own — a partition may mix schemes —
    and the handle is reused per scheme plus authority. Resolution
    goes through ``core.get_filesystem`` (not raw
    ``pafs.FileSystem.from_uri``) so scheme dispatch — including the
    in-process ``mock://`` object-store stand-in — behaves identically
    in executor tasks and on the driver."""
    from urllib.parse import urlsplit

    from octopufs_spark.fs.core import get_filesystem

    handles = {}

    def resolve(uri: str):
        fs, path = get_filesystem(uri)
        return handles.setdefault(urlsplit(uri)[:2], fs), path

    for i, src, dst in pairs:
        try:
            (src_fs, sp), (trg_fs, dp) = resolve(src), resolve(dst)
            if sp == dp and src_fs.type_name == trg_fs.type_name:
                # self-copy would truncate the source on open-for-write
                raise ValueError(f"source and target are the same file: {src}")
            parent = dp.rsplit("/", 1)[0]
            trg_fs.create_dir(parent, recursive=True)
            with src_fs.open_input_stream(sp) as r, trg_fs.open_output_stream(dp) as w:
                while True:
                    chunk = r.read(8 * 1024 * 1024)
                    if not chunk:
                        break
                    w.write(chunk)
            yield (i, src, True, None)
        except Exception as e:
            yield (i, src, False, f"{type(e).__name__}: {e}")


def copy_files(
    spark: SparkSession, paths: list[Paths], task_count: int = -1, attempt: int = 0
) -> list[FsOperationResult]:
    """Distributed copy of explicit (source, target) pairs in
    ``task_count`` tasks (-1: one per core slot, at most one per file)
    (reference: copyFiles, fs/DistributedExecution.scala:42-84)."""
    if not paths:
        return []
    sc = spark.sparkContext
    n = max(1, min(len(paths), sc.defaultParallelism) if task_count == -1 else task_count)
    pairs = [(i, p.source_path, p.target_path) for i, p in enumerate(paths)]
    # parallelize slices a list contiguously: deal the pairs out first
    dealt = sc.parallelize([pairs[t::n] for t in range(n)], n).flatMap(lambda batch: batch)
    raw = sorted(dealt.mapPartitions(_copy_partition).collect())
    results = [FsOperationResult(src, ok) for _, src, ok, _ in raw]
    failed = [(src, cause) for _, src, ok, cause in raw if not ok]
    if failed:
        if len(failed) == len(paths) or attempt + 1 >= MAX_ATTEMPTS:
            shown = ", ".join(src for src, _ in failed[:5])
            more = f" and {len(failed) - 5} more" if len(failed) > 5 else ""
            raise RuntimeError(
                f"distributed copy failed for {len(failed)}/{len(paths)} files "
                f"(attempt {attempt + 1}): {shown}{more}; first cause: {failed[0][1]}"
            )
        log.warning("retrying %d failed copies (attempt %d)", len(failed), attempt + 1)
        failed_srcs = {src for src, _ in failed}
        retried = copy_files(
            spark, [p for p in paths if p.source_path in failed_srcs], task_count, attempt + 1
        )
        ok = {r.path for r in retried if r.success}
        results = [FsOperationResult(r.path, True) if r.path in ok else r for r in results]
    return results


def copy_folder(
    spark: SparkSession, src_uri: str, trg_uri: str, task_count: int = -1
) -> list[FsOperationResult]:
    """Recursive distributed folder copy (files only — empty dirs are
    not recreated, matching the documented caveat)
    (reference: copyFolder, fs/DistributedExecution.scala:22-30)."""
    elements = list_tree(src_uri)
    src_prefix = src_uri.rstrip("/")
    trg_prefix = trg_uri.rstrip("/")

    def to_uri(path: str) -> str:
        # list_tree returns fs-relative paths; rebuild full URIs by
        # swapping the relative source prefix.
        from octopufs_spark.fs.core import get_filesystem

        _, src_rel = get_filesystem(src_prefix)
        return src_prefix + path[len(src_rel):]

    pairs = [
        Paths(to_uri(e.path), to_uri(e.path).replace(src_prefix, trg_prefix, 1))
        for e in elements
        if not e.is_dir
    ]
    return copy_files(spark, pairs, task_count)
