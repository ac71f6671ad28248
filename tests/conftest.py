from __future__ import annotations

import pathlib
import sys

import pytest

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

from _kafka_streams_scaffold_spark import session  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    sp = session.build_session("tests", master="local[4]", shuffle_partitions=4)
    yield sp
    sp.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
