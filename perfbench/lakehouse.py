"""Workload ``lakehouse``: seeded append batches cut from a sf0.1-sized
lineitem go into one ``ManifestTable`` that set-up preloaded.

A cycle is ``MAINTENANCE_EVERY`` rounds and then the table's
maintenance. Each round: ``write_and_commit`` (append, zone-map stats,
partitioned by l_returnflag); a ``read_pruned`` with a seeded
selective predicate, then counted; a time-travel
``read(version=...)`` of a seeded earlier append, then counted. After
the last round: ``merge_upsert_manifest`` of a seeded changeset, then
``compact_and_commit``. The run ends with ``vacuum``. Writes sit beside
reads on the same layer; merges and compactions are the periodic spikes
a median hides. It bypasses ``fs.distributed`` and ``acl``.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np

from perfbench import datagen
from perfbench.common import Calls, Checks, Tracer, timing_summary

PRELOAD_ROWS = 50_000  # committed in set-up: the table a round works on
BATCH_ROWS = 4_000  # one append
INSERT_POOL_ROWS = 150_000  # the last rows: inserts of the changesets
PRUNED_READS = 1  # per round
# Rounds per merge and compaction: Apache Hudi's default inline
# compaction trigger (hoodie.compact.inline.max.delta.commits = 5).
MAINTENANCE_EVERY = 5
UPDATES = 1_500
INSERTS = 500
ORDERKEY_WINDOW = 1_500  # pruned-read predicate width (orderkeys)
SETUP_REPS = 3
WARMUP_CYCLES = 1  # the JIT speeds calls up over their first few runs
MIN_CYCLES = 2  # so a merge or compaction median is never one sample
KEYS = ["l_orderkey", "l_linenumber"]
PARTITION_BY = ["l_returnflag"]
COMMITS = ("manifest.commit", "merge.upsert", "manifest.compact")
READS = ("manifest.read_pruned", "manifest.time_travel")


def _dir_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs)


class Lakehouse:
    def __init__(self, spark, tracer: Tracer, checks: Checks, base: str, seed: int):
        self.spark, self.tr, self.checks, self.seed = spark, tracer, checks, seed
        self.base = base
        self.calls = Calls(tracer)
        self.cycles = 0
        self.scanned = [0, 0]  # files opened, files in snapshot (pruned reads)

    # -------------------------------------------------------------- setup

    def generate(self) -> float:
        """Generate the sf0.1-sized lineitem and cut it into the preload,
        a seeded order of append batches and the insert pool; returns
        seconds taken."""
        t0 = time.perf_counter()
        self.items = datagen.Lineitem(self.seed)
        n_batches = (self.items.n - PRELOAD_ROWS - INSERT_POOL_ROWS) // BATCH_ROWS
        self.batch_order = np.random.default_rng(self.seed).permutation(n_batches)
        self.insert_pool = np.arange(self.items.n - INSERT_POOL_ROWS, self.items.n)
        self.rng = np.random.default_rng([self.seed, 1])
        return time.perf_counter() - t0

    def setup(self) -> float:
        """Median of several input generations, the preload commit and
        its compaction, and one warm-up cycle."""
        from octopufs_spark.manifest import ManifestTable, compact_and_commit, write_and_commit

        gen = statistics.median(self.generate() for _ in range(SETUP_REPS))
        t0 = time.perf_counter()
        self.table = ManifestTable(os.path.join(self.base, "table"))
        self.present = np.zeros(self.items.n, dtype=bool)
        self.price = self.items.price_cents.copy()
        self.expected: dict[int, tuple[int, int, int]] = {}  # version -> checksum
        self.kinds: dict[int, str] = {}  # version -> commit kind
        self.cycle_appends: list[list[int]] = []  # append versions of each cycle, by round
        self.next_batch = self.next_insert = 0
        rows = np.arange(PRELOAD_ROWS)
        v = write_and_commit(self._frame(rows), self.table, mode="append", stats=True, partition_by=PARTITION_BY)
        self.present[rows] = True
        self._record(v, "append", "preload")
        # every cycle starts from a compacted table, the first one too
        self._record(compact_and_commit(self.spark, self.table), "compact", "preload compaction")
        for c in range(WARMUP_CYCLES):
            self.cycle(-1 - c, timed=False)
        self.first_timed = max(self.expected) + 1
        return gen + time.perf_counter() - t0

    # -------------------------------------------------------------- ops

    def _checksum(self) -> tuple[int, int, int]:
        p = self.present
        return int(p.sum()), int(self.price[p].sum()), int(self.items.orderkey[p].sum())

    def _frame(self, rows: np.ndarray, cents: np.ndarray | None = None):
        return self.spark.createDataFrame(self.items.table(rows, cents))

    def _record(self, version, kind: str, what: str) -> None:
        if self.checks.check(version is not None, f"{what} published no version"):
            self.expected[version] = self._checksum()
            self.kinds[version] = kind

    def cycle(self, c: int, timed: bool = True) -> None:
        from octopufs_spark.manifest import compact_and_commit

        self.cycle_appends.append([])
        with self.tr.span("lakehouse.cycle"):
            for i in range(MAINTENANCE_EVERY):
                self.round(f"cycle {c} round {i}", i, timed)
            self._merge(f"cycle {c}", timed)
            v, _ = self.calls.call("manifest.compact", lambda: compact_and_commit(self.spark, self.table), timed)
            self._record(v, "compact", f"cycle {c}: compaction")

    def round(self, r: str, i: int, timed: bool) -> None:
        from octopufs_spark.manifest import write_and_commit

        spark, table, ck, rng, call = self.spark, self.table, self.checks, self.rng, self.calls.call
        b = self.batch_order[self.next_batch % len(self.batch_order)]
        self.next_batch += 1
        rows = PRELOAD_ROWS + np.arange(b * BATCH_ROWS, (b + 1) * BATCH_ROWS)
        if not self.present[rows[0]]:  # once every batch is in, rounds only read
            df = self._frame(rows)
            v, _ = call(
                "manifest.commit",
                lambda: write_and_commit(df, table, mode="append", stats=True, partition_by=PARTITION_BY),
                timed,
            )
            self.present[rows] = True
            self._record(v, "append", f"{r}: append")
            self.cycle_appends[-1].append(v)

        for _ in range(PRUNED_READS):
            self._pruned_read(r, timed)

        # time travel to the append of round i of a seeded earlier cycle:
        # it holds as many files as this round's head, so the read costs
        # the same whichever cycle the seed picks
        versions = [a[i] for a in self.cycle_appends[:-1] if len(a) > i]
        versions = versions or sorted(v for v, kind in self.kinds.items() if kind == "append")
        tv = versions[int(rng.integers(len(versions)))]
        got, _ = call("manifest.time_travel", lambda: table.read(spark, version=tv).count(), timed)
        ck.equal(got, self.expected[tv][0], f"{r}: time-travel count of v{tv}")

    def _pruned_read(self, r: str, timed: bool) -> None:
        """Count rows of a seeded orderkey window inside a committed batch."""
        table, rng = self.table, self.rng
        live = np.flatnonzero(self.present)
        lo = int(self.items.orderkey[live[int(rng.integers(len(live)))]])
        hi = lo + ORDERKEY_WINDOW
        flag = str(datagen.FLAGS[int(rng.integers(3))])
        preds = [("l_orderkey", ">=", lo), ("l_orderkey", "<", hi), ("l_returnflag", "=", flag)]
        cond = f"l_orderkey >= {lo} AND l_orderkey < {hi} AND l_returnflag = '{flag}'"
        got, _ = self.calls.call(
            "manifest.read_pruned", lambda: table.read_pruned(self.spark, preds).filter(cond).count(), timed
        )
        ok = self.items.orderkey
        want = (self.present & (ok >= lo) & (ok < hi) & (datagen.FLAGS[self.items.flag_idx] == flag)).sum()
        self.checks.equal(got, int(want), f"{r}: pruned read count")
        if self.tr.enabled:
            with self.tr.overhead():
                keep, _ = table.prune_plan(preds)
                self.scanned[0] += len(keep)
                self.scanned[1] += len(table.read_manifest().files)

    def _merge(self, r: str, timed: bool) -> None:
        """Upsert a seeded changeset: price updates of live rows, new rows."""
        from octopufs_spark.merge import merge_upsert_manifest

        rng = self.rng
        live = np.flatnonzero(self.present)
        upd = np.sort(rng.choice(live, size=min(UPDATES, len(live)), replace=False))
        ins = self.insert_pool[self.next_insert:self.next_insert + INSERTS]
        self.next_insert += INSERTS
        rows = np.concatenate([upd, ins])
        cents = self.price[rows].copy()
        cents[: len(upd)] += rng.integers(1, 10_000, len(upd))
        df = self._frame(rows, cents)
        v, _ = self.calls.call(
            "merge.upsert",
            lambda: merge_upsert_manifest(self.spark, self.table, df, KEYS, partition_by=PARTITION_BY),
            timed,
        )
        self.price[rows] = cents
        self.present[rows] = True
        self._record(v, "merge", f"{r}: merge")

    # -------------------------------------------------------------- run

    def measure(self, seconds: float) -> None:
        while self.cycles < MIN_CYCLES or self.calls.total_s < seconds:
            self.cycle(self.cycles)
            self.cycles += 1

    def _head_checksum(self) -> tuple[int, int, int]:
        """Rows, price sum and key sum of the head, read through Spark."""
        from pyspark.sql import functions as F

        row = self.table.read(self.spark).agg(
            F.count("*"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")),
            F.sum("l_orderkey"),
        ).first()
        return tuple(int(x) for x in row)

    def _check_versions(self, versions) -> None:
        """Every version's files hold the rows the generator says it has:
        row count, price sum and key sum, summed over the data files the
        version's manifest names (each file read once, with pyarrow)."""
        import pyarrow.parquet as pq

        per_file: dict[str, tuple[int, int, int]] = {}
        for v in versions:
            total = [0, 0, 0]
            for rel in self.table.read_manifest(v).files:
                if rel not in per_file:
                    t = pq.read_table(os.path.join(self.table.root_path, rel), columns=["l_extendedprice", "l_orderkey"])
                    cents = np.rint(t.column(0).to_numpy() * 100).astype(np.int64)
                    per_file[rel] = (t.num_rows, int(cents.sum()), int(t.column(1).to_numpy().sum()))
                total = [a + b for a, b in zip(total, per_file[rel])]
            self.checks.equal(tuple(total), self.expected[v], f"v{v} rows, price and key sums")

    def finish(self) -> None:
        """Check every version, take the amplification figures, vacuum."""
        table = self.table
        versions = sorted(self.expected)
        self._check_versions(versions)

        def size(rel: str) -> int:
            return os.path.getsize(os.path.join(table.root_path, rel))

        # bytes and files each timed commit added, by kind
        self.bytes_by_kind = {"append": 0, "merge": 0, "compact": 0}
        self.files_written = 0
        prev: set[str] = set()
        for v in versions:
            files = set(table.read_manifest(v).files)
            if v >= self.first_timed:
                new = files - prev
                self.bytes_by_kind[self.kinds[v]] += sum(size(f) for f in new)
                if self.kinds[v] == "append":
                    self.files_written += len(new)
            prev = files
        self.write_amp = sum(self.bytes_by_kind.values()) / self.bytes_by_kind["append"]
        head = versions[-1]
        head_bytes = sum(size(f) for f in table.read_manifest(head).files)
        self.space_amp_before_vacuum = _dir_bytes(table.root_path) / head_bytes

        deleted, _ = self.calls.call(
            "manifest.vacuum", lambda: table.vacuum(keep_versions=1, retention_seconds=0), timed=False
        )
        self.vacuum_files_deleted = len(deleted)
        self.space_amp = _dir_bytes(table.root_path) / head_bytes
        self.checks.equal(self._head_checksum(), self.expected[head], "head after vacuum")

    def end_to_end(self) -> dict:
        return {
            **self.calls.summary(self.cycles),
            "write_amp": self.write_amp,
            "space_amp": self.space_amp,
            "_commit_s": timing_summary(self.calls.samples(COMMITS)),
            "_read_s": timing_summary(self.calls.samples(READS)),
            "_space_amp_before_vacuum": self.space_amp_before_vacuum,
        }

    def per_layer(self) -> dict:
        tr, n = self.tr, self.cycles
        return {
            "manifest.commit_s": tr.median_s("manifest.commit"),
            "manifest.commit_jobs": tr.per_cycle("manifest.commit", "jobs", n),
            "manifest.files_written": self.files_written / n,
            "manifest.bytes_written": self.bytes_by_kind["append"] / n,
            "manifest.read_pruned_s": tr.median_s("manifest.read_pruned"),
            "manifest.time_travel_s": tr.median_s("manifest.time_travel"),
            "manifest.files_scanned_ratio": self.scanned[0] / max(1, self.scanned[1]),
            "merge.upsert_s": tr.median_s("merge.upsert"),
            "merge.jobs": tr.per_cycle("merge.upsert", "jobs", n),
            "merge.bytes_rewritten": self.bytes_by_kind["merge"] / n,
            "manifest.compact_s": tr.median_s("manifest.compact"),
            "manifest.compact_bytes_rewritten": self.bytes_by_kind["compact"] / n,
            "manifest.vacuum_s": tr.median_s("manifest.vacuum"),
            "manifest.vacuum_files_deleted": self.vacuum_files_deleted,
        }
