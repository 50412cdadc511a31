"""Shared fixtures: one SparkSession for the whole test run (JVM spin-up
is ~10 s; per-test sessions would dominate runtime), sized small for the
tiny test tables."""

from __future__ import annotations

import os
import sys
import tempfile

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sparkstreaming_gmall_scala_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "tests",
        master="local[4]",
        shuffle_partitions=4,
        # AQE stays ON (production posture): an AQE-off experiment
        # (r16) cut the per-action floor 0.37 -> 0.14 s on a trivial
        # groupBy but the FULL suite ran no faster (1938 s vs 1899 s)
        # because join-heavy tests lost AQE's runtime broadcast
        # conversion — net zero, so the measured default stands.
        extra_conf={"spark.sql.shuffle.partitions": "4"},
    )
    yield s


@pytest.fixture(scope="session", autouse=True)
def _run_tempdir(tmp_path_factory):
    """Point ``tempfile`` at a dir of this run's pytest base temp, so the
    build cache (``sources.tables.build_once``) and every other temp user
    write there: builds are shared within a run, and pytest's retention
    of old base temps removes them instead of leaving them in the system
    temp dir."""
    before = tempfile.tempdir
    tempfile.tempdir = str(tmp_path_factory.mktemp("tempfile", numbered=False))
    yield
    tempfile.tempdir = before


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
