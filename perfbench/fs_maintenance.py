"""Workload ``fs_maintenance``: the storage toolkit's maintenance cycle on
a seeded hive-partitioned tree of small parquet files.

Each cycle times eight calls: ``copy_folder`` src -> mirror; then, after
the user's untimed mutation of a seeded share of src (rewrite, add and
delete files), ``synchronize``; ``get_delta`` (must be empty);
``modify_folder_acl`` on src; ``synchronize_acls`` mirror <- src; ``compact.do_it_all`` on the mirror;
``move_folder_content`` mirror -> moved; ``delete_folder`` moved. It
drives DistributedExecution, LocalExecution, Delta, AclManager and
Coalesce and bypasses the manifest and query layers.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

from perfbench import datagen
from perfbench.common import Calls, Checks, Tracer

YEARS = 3
FILES_PER_LEAF = 3  # 3 years x 3 flags x 3 files = 27 files
MUTATE_SHARE = 0.3
SETUP_REPS = 3
WARMUP_CYCLES = 1  # the JIT speeds calls up over their first few runs
MIN_CYCLES = 2  # so a call type's median is never one sample


def _files(uri: str) -> dict[str, int]:
    """Data files under a tree (fs path -> size), Spark/markers excluded."""
    from octopufs_spark.fs.core import list_tree

    return {
        e.path: e.byte_size
        for e in list_tree(uri)
        if not e.is_dir and not os.path.basename(e.path).startswith((".", "_"))
    }


def _checksum(files) -> tuple[int, int]:
    """(rows, sum of l_extendedprice in cents) over parquet files."""
    rows = cents = 0
    for p in files:
        col = pq.read_table(p, columns=["l_extendedprice"]).column(0).to_numpy()
        rows += len(col)
        cents += int(np.rint(col * 100).sum())
    return rows, cents


class FsMaintenance:
    def __init__(self, spark, tracer: Tracer, checks: Checks, base: str, seed: int):
        from octopufs_spark.acl import SidecarAclStore

        self.spark, self.tr, self.checks, self.seed = spark, tracer, checks, seed
        self.base = base
        self.src, self.mirror, self.moved = (os.path.join(base, d) for d in ("src", "mirror", "moved"))
        os.makedirs(base, exist_ok=True)
        self.store = SidecarAclStore(base)
        self.calls = Calls(tracer)
        self.cycles = 0
        self.files_done = 0
        self.tree_bytes = 0
        self.toolkit_bytes = 0
        self.space_ratios: list[float] = []

    # -------------------------------------------------------------- setup

    def generate(self) -> float:
        """(Re)write the seeded source tree; returns seconds taken."""
        import shutil

        t0 = time.perf_counter()
        shutil.rmtree(self.src, ignore_errors=True)
        datagen.write_tree(self.src, self.seed, YEARS, FILES_PER_LEAF)
        return time.perf_counter() - t0

    def setup(self) -> float:
        """Median of several tree generations, plus warm-up cycles."""
        gen = statistics.median(self.generate() for _ in range(SETUP_REPS))
        t0 = time.perf_counter()
        for c in range(WARMUP_CYCLES):
            self.cycle(-1 - c, timed=False)
        return gen + time.perf_counter() - t0

    # -------------------------------------------------------------- cycle

    def _mutate(self, cycle: int, files: list[str]) -> tuple[int, int]:
        """Rewrite, delete and add a seeded share of source files.
        Returns the (missing, extra) counts ``get_delta`` must see: a
        rewritten file changes size, so it is in both."""
        rng = np.random.default_rng([self.seed, cycle + WARMUP_CYCLES])
        k = max(3, int(len(files) * MUTATE_SHARE)) // 3
        chosen = rng.choice(len(files), size=2 * k, replace=False)
        for i in chosen[:k]:  # rewrite: new rows, new size
            old = os.path.getsize(files[i])
            size = old
            while size == old:
                size = datagen.write_file(files[i], int(rng.integers(1 << 31)), datagen.tree_file_rows(rng))
        for i in chosen[k:]:
            os.remove(files[i])
        leaves = sorted({os.path.dirname(f) for f in files})
        for j in range(k):
            leaf = leaves[int(rng.integers(len(leaves)))]
            path = os.path.join(leaf, f"part-c{cycle + WARMUP_CYCLES:04d}-{j}.parquet")
            datagen.write_file(path, int(rng.integers(1 << 31)), datagen.tree_file_rows(rng))
        return 2 * k, 2 * k

    def cycle(self, n: int, timed: bool = True) -> None:
        from octopufs_spark import compact
        from octopufs_spark.acl import FsPermission, modify_folder_acl, synchronize_acls
        from octopufs_spark.fs.core import list_tree
        from octopufs_spark.fs.delta import get_delta, synchronize
        from octopufs_spark.fs.distributed import copy_folder
        from octopufs_spark.fs.local import delete_folder, move_folder_content

        ck, tracing, call = self.checks, self.tr.enabled, self.calls.call
        spark, src, mirror, moved = self.spark, self.src, self.mirror, self.moved
        with self.tr.span("fs_maintenance.cycle"):
            with self.tr.span("fs.core.list") as sp:  # the user's inventory; not a timed call
                elements = list_tree(src)
            sp.add(entries=len(elements))
            src_files = {e.path: e.byte_size for e in elements if not e.is_dir}
            tree_bytes = sum(src_files.values())

            res, sp = call("fs.distributed.copy", lambda: copy_folder(spark, src, mirror), timed)
            failed = sum(not r.success for r in res)
            sp.add(files=len(res), bytes=tree_bytes, failed=failed)
            ck.equal(failed, 0, f"cycle {n}: copy_folder failures")
            ck.equal(len(res), len(src_files), f"cycle {n}: files copied")

            src_before = set(_files(src).items())
            changed = self._mutate(n, sorted(src_files))
            src_after = _files(src)
            # what synchronize has to copy (missing) and delete (extra): files
            # whose (path, size) the mutation added or took away
            missing = len(set(src_after.items()) - src_before)
            extra = len(src_before - set(src_after.items()))
            ck.equal((missing, extra), changed, f"cycle {n}: files the mutation changed")
            _, sp = call("fs.delta.sync", lambda: synchronize(spark, src, mirror), timed)
            sp.add(missing=missing, extra=extra)
            delta, _ = call("fs.delta.diff", lambda: get_delta(spark, src, mirror), timed)
            ck.equal(delta, ([], []), f"cycle {n}: get_delta after synchronize")
            mirror_files = _files(mirror)
            ck.equal(sum(mirror_files.values()), sum(src_after.values()), f"cycle {n}: mirror bytes")
            synced = sum(src_after[p] for p in src_after if src_files.get(p) != src_after[p])

            perm = FsPermission("user", "rwx", grantee=f"grantee-{n % 3}")
            res, sp = call("acl.modify", lambda: modify_folder_acl(self.store, src, perm), timed)
            sp.add(paths=len(res), failed=sum(not r.success for r in res))
            res, sp = call("acl.sync", lambda: synchronize_acls(self.store, mirror, src), timed)
            sp.add(paths=len(res), failed=sum(not r.success for r in res))
            ck.equal(sum(not r.success for r in res), 0, f"cycle {n}: synchronize_acls failures")
            self._check_acls(n)

            want = _checksum(src_after)
            _, sp = call("compact", lambda: compact.do_it_all(spark, [mirror]), timed)
            compacted = _files(mirror)
            rewritten_bytes = sum(s for p, s in compacted.items() if p not in mirror_files)
            if tracing:
                sp.add(files_in=len(mirror_files), files_out=len(compacted), bytes_rewritten=rewritten_bytes)
            ck.equal(_checksum(compacted), want, f"cycle {n}: rows and price sum after compaction")
            on_disk = sum(e.byte_size for e in list_tree(self.base) if not e.is_dir)

            res, sp = call("fs.local.move", lambda: move_folder_content(mirror, moved), timed)
            sp.add(paths=len(res), failed=sum(not r.success for r in res))
            ck.equal(sum(_files(moved).values()), sum(compacted.values()), f"cycle {n}: moved bytes")
            ck.check(not os.path.exists(mirror), f"cycle {n}: mirror removed by move")
            moved_paths = 0
            if tracing:
                with self.tr.overhead():
                    moved_paths = len(list_tree(moved))
            _, sp = call("fs.local.delete", lambda: delete_folder(moved), timed)
            sp.add(paths=moved_paths)
            ck.check(not os.path.exists(moved), f"cycle {n}: delete_folder")
        if timed:
            self.cycles += 1
            self.files_done += len(src_files)
            self.toolkit_bytes += tree_bytes + synced + rewritten_bytes
            self.tree_bytes += sum(src_after.values())
            self.space_ratios.append(on_disk / sum(src_after.values()))

    def _check_acls(self, n: int) -> None:
        """Every mirror dir carries its source twin's ACL."""
        from octopufs_spark.fs.core import list_tree

        bad = 0
        dirs = [self.mirror] + [e.path for e in list_tree(self.mirror) if e.is_dir]
        for d in dirs:
            twin = self.src + d[len(self.mirror):]
            if set(self.store.get_acl(d)) != set(self.store.get_acl(twin)):
                bad += 1
        self.checks.equal(bad, 0, f"cycle {n}: mirror dirs whose ACL differs from the source")

    # -------------------------------------------------------------- run

    def measure(self, seconds: float) -> None:
        while self.cycles < MIN_CYCLES or self.calls.total_s < seconds:
            self.cycle(self.cycles)

    def finish(self) -> None:
        """Every cycle checked its own outputs; nothing is left open."""

    def end_to_end(self) -> dict:
        return {
            **self.calls.summary(self.cycles),
            "write_amp": self.toolkit_bytes / self.tree_bytes,
            "space_amp": statistics.median(self.space_ratios),
            "_files_per_s": self.files_done / self.calls.total_s,
        }

    def per_layer(self) -> dict:
        tr, n = self.tr, self.cycles
        return {
            "fs.core.list_s": tr.median_s("fs.core.list"),
            "fs.core.entries": tr.per_cycle("fs.core.list", "entries", n),
            "fs.distributed.copy_s": tr.median_s("fs.distributed.copy"),
            "fs.distributed.files": tr.per_cycle("fs.distributed.copy", "files", n),
            "fs.distributed.bytes": tr.per_cycle("fs.distributed.copy", "bytes", n),
            "fs.distributed.tasks": tr.per_cycle("fs.distributed.copy", "tasks", n),
            "fs.distributed.failed": tr.per_cycle("fs.distributed.copy", "failed", n),
            "fs.delta.diff_s": tr.median_s("fs.delta.diff"),
            "fs.delta.sync_s": tr.median_s("fs.delta.sync"),
            "fs.delta.jobs": tr.per_cycle("fs.delta.diff", "jobs", n) + tr.per_cycle("fs.delta.sync", "jobs", n),
            "fs.delta.missing": tr.per_cycle("fs.delta.sync", "missing", n),
            "fs.delta.extra": tr.per_cycle("fs.delta.sync", "extra", n),
            "fs.local.move_s": tr.median_s("fs.local.move"),
            "fs.local.delete_s": tr.median_s("fs.local.delete"),
            "fs.local.paths": tr.per_cycle("fs.local.move", "paths", n) + tr.per_cycle("fs.local.delete", "paths", n),
            "fs.local.failed": tr.per_cycle("fs.local.move", "failed", n),
            "acl.modify_s": tr.median_s("acl.modify"),
            "acl.sync_s": tr.median_s("acl.sync"),
            "acl.paths": tr.per_cycle("acl.modify", "paths", n) + tr.per_cycle("acl.sync", "paths", n),
            "acl.failed": tr.per_cycle("acl.modify", "failed", n) + tr.per_cycle("acl.sync", "failed", n),
            "compact.s": tr.median_s("compact"),
            "compact.files_in": tr.per_cycle("compact", "files_in", n),
            "compact.files_out": tr.per_cycle("compact", "files_out", n),
            "compact.bytes_rewritten": tr.per_cycle("compact", "bytes_rewritten", n),
        }
