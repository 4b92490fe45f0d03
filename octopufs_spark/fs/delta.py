"""Tree diff + rsync-style synchronize.

Rebuild of the reference's Delta (reference: Delta.scala:40-50): list
both trees, strip prefixes, set-difference on (relative path, size) in
both directions. ``list_tree`` already returns each listing as a
Python list on the driver, so the difference is two set operations
there too — as in the reference — and launches no Spark job. Only the
byte copy of ``synchronize`` goes to the cluster.
"""

from __future__ import annotations

import logging

from pyspark.sql import SparkSession

from octopufs_spark.fs.core import get_filesystem, list_tree
from octopufs_spark.fs.distributed import copy_files
from octopufs_spark.fs.local import delete_paths
from octopufs_spark.fs.model import Paths

log = logging.getLogger(__name__)


def _rel_inventory(uri: str) -> set[tuple[str, int]]:
    """(relative path, byte size) of every file under ``uri``."""
    _, root = get_filesystem(uri)
    return {(e.path[len(root) + 1 :], e.byte_size) for e in list_tree(uri) if not e.is_dir}


def get_delta(
    spark: SparkSession, src_uri: str, trg_uri: str
) -> tuple[list[str], list[str]]:
    """(missing_in_target, only_in_target) as sorted relative paths
    (reference: getDelta, Delta.scala:40-50). ``spark`` is unused: the
    diff runs on the driver."""
    src = _rel_inventory(src_uri)
    trg = _rel_inventory(trg_uri)
    missing = sorted(rel for rel, _ in src - trg)
    extra = sorted(rel for rel, _ in trg - src)
    return missing, extra


def synchronize(
    spark: SparkSession, src_uri: str, trg_uri: str, task_count: int = -1
) -> None:
    """Make target mirror source: delete extras, copy missing
    (reference: synchronize, Delta.scala:25-32)."""
    missing, extra = get_delta(spark, src_uri, trg_uri)
    src_prefix = src_uri.rstrip("/")
    trg_prefix = trg_uri.rstrip("/")
    if extra:
        delete_paths([f"{trg_prefix}/{rel}" for rel in extra])
    if missing:
        copy_files(
            spark,
            [Paths(f"{src_prefix}/{rel}", f"{trg_prefix}/{rel}") for rel in missing],
            task_count,
        )
    log.info("synchronize: copied %d, deleted %d", len(missing), len(extra))
