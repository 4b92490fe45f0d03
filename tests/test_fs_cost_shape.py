"""Cost shape of the fs toolkit's Spark use, read from the status tracker.

The tree diff runs on the driver and launches no Spark job; a
distributed copy is one stage of at most one task per core slot, with
pairs of any scheme mixed in one task; a failed copy keeps its cause.
"""

from __future__ import annotations

import uuid
from contextlib import contextmanager

import pytest

from octopufs_spark.fs import distributed
from octopufs_spark.fs.core import get_filesystem
from octopufs_spark.fs.delta import get_delta, synchronize
from octopufs_spark.fs.distributed import copy_files, copy_folder
from octopufs_spark.fs.mockfs import wipe_prefix
from octopufs_spark.fs.model import Paths


@contextmanager
def _jobs_launched(spark):
    """Collects the ids of the Spark jobs launched inside the block."""
    sc = spark.sparkContext
    group = f"cost-shape-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    jobs: list[int] = []
    try:
        yield jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs.extend(sc.statusTracker().getJobIdsForGroup(group))


def _stage_task_counts(spark, jobs: list[int]) -> list[int]:
    tracker = spark.sparkContext.statusTracker()
    return [
        tracker.getStageInfo(stage).numTasks
        for job in sorted(jobs)
        for stage in tracker.getJobInfo(job).stageIds
    ]


def _write(uri: str, payload: bytes) -> None:
    fs, path = get_filesystem(uri)
    fs.create_dir(path.rsplit("/", 1)[0], recursive=True)
    with fs.open_output_stream(path) as f:
        f.write(payload)


def _read(uri: str) -> bytes:
    fs, path = get_filesystem(uri)
    with fs.open_input_stream(path) as f:
        return f.read()


@pytest.fixture()
def mock_prefix():
    prefix = f"mock://octopufs-it/cost-shape-{uuid.uuid4().hex[:12]}"
    yield prefix
    wipe_prefix(prefix)


def test_get_delta_and_empty_synchronize_launch_no_jobs(spark, tmp_path):
    src, trg = tmp_path / "src", tmp_path / "trg"
    for i in range(6):
        _write(str(src / f"d{i % 2}" / f"f{i}.bin"), bytes([i]) * (i + 1))
    copy_folder(spark, str(src), str(trg))
    _write(str(src / "new.bin"), b"n")
    _write(str(trg / "stale.bin"), b"s")
    with _jobs_launched(spark) as jobs:
        missing, extra = get_delta(spark, str(src), str(trg))
    assert (missing, extra) == (["new.bin"], ["stale.bin"])
    assert jobs == []
    synchronize(spark, str(src), str(trg))
    with _jobs_launched(spark) as jobs:
        synchronize(spark, str(src), str(trg))
    assert jobs == []
    assert get_delta(spark, str(src), str(trg)) == ([], [])


def test_get_delta_lists_are_sorted_and_size_aware(spark, tmp_path):
    src, trg = tmp_path / "src", tmp_path / "trg"
    for name in ("c.bin", "a.bin", "b/z.bin", "b/y.bin"):
        _write(str(src / name), b"x")
    _write(str(trg / "a.bin"), b"xx")  # same path, other size: both ways
    missing, extra = get_delta(spark, str(src), str(trg))
    assert missing == ["a.bin", "b/y.bin", "b/z.bin", "c.bin"]
    assert extra == ["a.bin"]


def test_default_copy_is_one_stage_of_core_packed_tasks(spark, tmp_path):
    slots = spark.sparkContext.defaultParallelism
    for n_files, task_count, tasks in (
        (2, -1, min(2, slots)),
        (3 * slots + 1, -1, slots),
        (3 * slots + 1, 3, 3),
    ):
        src, trg = tmp_path / f"src{n_files}_{task_count}", tmp_path / f"trg{n_files}_{task_count}"
        for i in range(n_files):
            _write(str(src / f"f{i}.bin"), bytes([i % 256]) * (i + 1))
        with _jobs_launched(spark) as jobs:
            results = copy_folder(spark, str(src), str(trg), task_count)
        assert len(results) == n_files and all(r.success for r in results)
        assert _stage_task_counts(spark, jobs) == [tasks]
        for i in range(n_files):
            assert _read(str(trg / f"f{i}.bin")) == bytes([i % 256]) * (i + 1)


def test_packed_copy_retries_only_the_failed_pair(spark, tmp_path, monkeypatch):
    slots = spark.sparkContext.defaultParallelism
    n_files = 3 * slots + 1
    src, trg = tmp_path / "src", tmp_path / "trg"
    pairs = [Paths(str(src / f"f{i}.bin"), str(trg / f"f{i}.bin")) for i in range(n_files)]
    late = n_files // 2
    for i in range(n_files):
        if i != late:
            _write(pairs[i].source_path, bytes([i]) * 3)

    calls: list[tuple[int, list[str]]] = []

    def spy(spark, paths, task_count=-1, attempt=0):
        calls.append((attempt, [p.source_path for p in paths]))
        if attempt == 1:  # the source appears before the first retry
            _write(pairs[late].source_path, bytes([late]) * 3)
        return real(spark, paths, task_count, attempt)

    real = distributed.copy_files
    monkeypatch.setattr(distributed, "copy_files", spy)
    results = distributed.copy_files(spark, pairs)
    assert calls == [(0, [p.source_path for p in pairs]), (1, [pairs[late].source_path])]
    assert [r.path for r in results] == [p.source_path for p in pairs]
    assert all(r.success for r in results)
    for i, p in enumerate(pairs):
        assert _read(p.target_path) == bytes([i]) * 3


def test_one_task_mixes_schemes(spark, tmp_path, mock_prefix):
    local = f"file://{tmp_path}"
    pairs = [
        Paths(f"{mock_prefix}/src/m.bin", f"{mock_prefix}/trg/m.bin"),
        Paths(f"{local}/src/l.bin", f"{local}/trg/l.bin"),
        Paths(f"{local}/src/l.bin", f"{mock_prefix}/trg/from_local.bin"),
        Paths(f"{mock_prefix}/src/m.bin", f"{local}/trg/from_mock.bin"),
    ]
    _write(pairs[0].source_path, b"mock bytes")
    _write(pairs[1].source_path, b"local bytes")
    results = copy_files(spark, pairs, task_count=1)
    assert all(r.success for r in results)
    assert _read(f"{mock_prefix}/trg/m.bin") == b"mock bytes"
    assert _read(f"{local}/trg/l.bin") == b"local bytes"
    assert _read(f"{mock_prefix}/trg/from_local.bin") == b"local bytes"
    assert _read(f"{local}/trg/from_mock.bin") == b"mock bytes"


@pytest.mark.parametrize("scheme", ["mock", "file"])
def test_copy_failure_keeps_its_cause(spark, tmp_path, mock_prefix, scheme):
    base = mock_prefix if scheme == "mock" else f"file://{tmp_path}"
    _write(f"{base}/src/good.bin", b"ok")
    pairs = [
        Paths(f"{base}/src/good.bin", f"{base}/trg/good.bin"),
        Paths(f"{base}/src/gone.bin", f"{base}/trg/gone.bin"),
    ]
    with pytest.raises(RuntimeError, match="distributed copy failed") as err:
        copy_files(spark, pairs)
    message = str(err.value)
    assert f"{base}/src/gone.bin" in message
    assert "first cause: FileNotFoundError" in message
    assert _read(f"{base}/trg/good.bin") == b"ok"
