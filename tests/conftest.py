"""Shared fixtures: one SparkSession for the whole test run."""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

SF_SMALL = "/root/testdata/sf0.001"


def _test_heap_default() -> str:
    """A third of physical memory for the test JVM's heap, in GiB. One
    session runs the whole suite and its heap only grows, so the
    session default (24g) lets it outgrow a 16 GB host, where the
    kernel kills the test process."""
    with open("/proc/meminfo") as f:
        kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(2, kib // (3 * 1024 * 1024))}g"


if os.path.exists("/proc/meminfo"):
    os.environ.setdefault("SPARK_DRIVER_MEM", _test_heap_default())


@pytest.fixture(scope="session")
def spark():
    from cross_sentence_relation_extraction_idepnn_spark.session import get_spark

    s = get_spark("tests", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMALL
