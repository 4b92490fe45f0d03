"""Workload ``llm_pipeline``: registry queries on seeded TPC-H-shaped
tables, in a seeded order each round.

Each call is one registry query as a caller pays for it: the build
(``fn(spark, sf_dir)``) plus one noop-sink execution. One query is
build-heavy — its eager jobs run inside ``fn`` — and one is an
exec-heavy control, on which build-layer work should change nothing:

- ``q_ext_mv_minmax_rescan`` writes a manifest table, builds a
  materialized view, lands a positional merge-on-read delete and
  refreshes the view incrementally: 27 jobs at build time, one at
  execution;
- ``q_tpch_q1`` is one scan and aggregation, all of it executed.

The build-heavy query puts its tables in a ``tempfile.mkdtemp`` dir and
never removes it; the benchmark gives each round its own temp dir,
measures what the round left there, and removes it.
"""

from __future__ import annotations

import os
import shutil
import statistics
import tempfile
import time

import numpy as np

from perfbench import datagen
from perfbench.common import Calls, Checks, Tracer, timing_summary

QUERIES = ("q_tpch_q1", "q_ext_mv_minmax_rescan")
SF = 0.01  # 60,000 lineitem rows, 15,000 orders
SETUP_REPS = 3
WARMUP_ROUNDS = 3  # the JIT speeds a query up over its first few runs
MIN_ROUNDS = 4  # so a query's median rests on at least four samples


def _dir_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs)


def _canonical(cols: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name, and rows as sorted tuples of reprs."""
    order = sorted(range(len(cols)), key=cols.__getitem__)
    return [cols[i] for i in order], sorted(tuple(repr(r[i]) for i in order) for r in rows)


class LlmPipeline:
    def __init__(self, spark, tracer: Tracer, checks: Checks, base: str, seed: int):
        from octopufs_spark.registry import REGISTRY, all_queries

        self.spark, self.tr, self.checks, self.seed = spark, tracer, checks, seed
        fns = all_queries()
        self.fns = {q: fns[q] for q in QUERIES}
        self.oracles = {q: REGISTRY[q].oracle for q in QUERIES}
        self.data = os.path.join(base, "sf")
        self.query_tmp = os.path.join(base, "query-tmp")
        self.calls = Calls(tracer)
        self.rng = np.random.default_rng([seed, 2])
        self.rounds = 0
        self.left_bytes: list[int] = []  # what each timed round's queries left on disk
        self.checked = False

    # -------------------------------------------------------------- setup

    def generate(self) -> float:
        """(Re)write the seeded tables; returns seconds taken."""
        t0 = time.perf_counter()
        shutil.rmtree(self.data, ignore_errors=True)
        self.input_bytes = sum(datagen.write_tpch(self.data, self.seed, SF).values())
        return time.perf_counter() - t0

    def setup(self) -> float:
        """Median of several table generations, plus warm-up rounds."""
        gen = statistics.median(self.generate() for _ in range(SETUP_REPS))
        t0 = time.perf_counter()
        for r in range(WARMUP_ROUNDS):
            self.round(-1 - r, timed=False)
        return gen + time.perf_counter() - t0

    # -------------------------------------------------------------- round

    def _query(self, q: str):
        """Build, then execute to the noop sink: what a caller pays."""
        with self.tr.span(f"llm_pipeline.{q}.build"):
            df = self.fns[q](self.spark, self.data)
        with self.tr.span(f"llm_pipeline.{q}.exec"):
            df.write.format("noop").mode("overwrite").save()
        return df

    def round(self, r: int, timed: bool = True) -> None:
        tmp = os.path.join(self.query_tmp, f"round-{r}")
        os.makedirs(tmp)
        tempfile.tempdir = tmp  # where the queries' mkdtemp tables go
        try:
            with self.tr.span("llm_pipeline.round"):
                for i in self.rng.permutation(len(QUERIES)):
                    q = QUERIES[i]
                    df, _ = self.calls.call(f"llm_pipeline.{q}", lambda: self._query(q), timed)
                    if timed and not self.checked:
                        self._check(q, df)
        finally:
            tempfile.tempdir = None  # back to TMPDIR
        self.checked |= timed
        if timed:
            self.rounds += 1
            self.left_bytes.append(_dir_bytes(tmp))
        shutil.rmtree(tmp)

    def _check(self, q: str, df) -> None:
        """The query's rows equal its registry DuckDB oracle's (untimed;
        once per run, in the first timed round)."""
        import duckdb

        got = _canonical(df.columns, df.collect())
        con = duckdb.connect()
        try:
            for t in ("lineitem", "orders"):  # the tables datagen.write_tpch writes
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data}/{t}.parquet')")
            res = con.sql(self.oracles[q])
            want = _canonical(res.columns, res.fetchall())
        finally:
            con.close()
        self.checks.check(got == want, f"{q}: rows differ from the DuckDB oracle: got {got[:3]}, want {want[:3]}")

    # -------------------------------------------------------------- run

    def measure(self, seconds: float) -> None:
        while self.rounds < MIN_ROUNDS or self.calls.total_s < seconds:
            self.round(self.rounds)

    def finish(self) -> None:
        """Every round checked and removed its own outputs."""

    def end_to_end(self) -> dict:
        left = statistics.median(self.left_bytes)
        out = {
            **self.calls.summary(self.rounds),
            "write_amp": left / self.input_bytes,
            "space_amp": (self.input_bytes + left) / self.input_bytes,
            "_query_s": timing_summary(self.calls.samples()),
            "_input_bytes": self.input_bytes,
            "_left_bytes_per_round": self.left_bytes,
        }
        if self.tr.enabled:
            out["_shuffle_write_bytes"] = {q: self._shuffle_bytes(q) for q in QUERIES}
        return out

    def _shuffle_bytes(self, q: str) -> list[int]:
        """Shuffle bytes written per call, build and execution together."""
        build = self.tr.values(f"llm_pipeline.{q}.build", "shuffle_write_bytes")
        exe = self.tr.values(f"llm_pipeline.{q}.exec", "shuffle_write_bytes")
        return [a + b for a, b in zip(build, exe)]

    def per_layer(self) -> dict:
        tr, n = self.tr, self.rounds
        out = {}
        for q in QUERIES:
            build, exe = f"llm_pipeline.{q}.build", f"llm_pipeline.{q}.exec"
            out.update(
                {
                    f"{build}_s": tr.median_s(build),
                    f"{build}_jobs": tr.per_cycle(build, "jobs", n),
                    f"{exe}_s": tr.median_s(exe),
                    f"{exe}_jobs": tr.per_cycle(exe, "jobs", n),
                    f"llm_pipeline.{q}.shuffle_write_bytes": statistics.median(self._shuffle_bytes(q)),
                }
            )
        return out
