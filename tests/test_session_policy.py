"""Unit tests for the input-sized session policies (no SparkSession)."""

from __future__ import annotations

import os

from ssp_spark.session import (
    adaptive_enabled_for,
    default_parallelism,
    sized_shuffle_partitions,
)


def _make_dir(tmp_path, n_bytes):
    d = tmp_path / f"data_{n_bytes}"
    d.mkdir()
    (d / "f.parquet").write_bytes(b"\0" * n_bytes)
    return str(d)


def test_shuffle_partitions_floor_and_growth(tmp_path):
    tiny = _make_dir(tmp_path, 1 << 20)  # 1 MiB -> floor
    assert sized_shuffle_partitions(tiny, cpus=32) == 8
    mid = _make_dir(tmp_path, 40 * (16 << 20))  # 640 MiB -> 40 partitions
    assert sized_shuffle_partitions(mid, cpus=32) == 40
    # cap at 3x cores
    assert sized_shuffle_partitions(mid, cpus=8) == 24


def test_shuffle_partitions_missing_dir_uses_floor():
    assert sized_shuffle_partitions("/nonexistent/path", cpus=32) == 8


def test_adaptive_gate(tmp_path, monkeypatch):
    small = _make_dir(tmp_path, 1 << 20)
    assert not adaptive_enabled_for(small)
    monkeypatch.setenv("SPARK_GRAFT_AQE_MIN_BYTES", str(1 << 19))
    assert adaptive_enabled_for(small)


def test_default_parallelism_falls_back_to_usable_cores(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_parallelism() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_parallelism() == 3
