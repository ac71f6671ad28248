from __future__ import annotations

import pathlib
import sys

import pytest

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

from _kafka_streams_scaffold_spark import pinning, session  # noqa: E402
from _kafka_streams_scaffold_spark.plans import inspect as pi  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    sp = session.build_session("tests", master="local[4]", shuffle_partitions=4)
    yield sp
    sp.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


class PinBuilds:
    """The pins built during one test: each build frame's formatted
    explain, rendered before the pin materialized, and the RDD id of
    the pin it became."""

    def __init__(self):
        self.explains: list[str] = []
        self.rdd_ids: set[int] = set()

    def reads(self, df) -> bool:
        """True when a LogicalRDD leaf of ``df``'s analyzed plan is a
        pin built here — not any checkpoint or createDataFrame leaf,
        which render the same ``Scan ExistingRDD`` line."""
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        return any(
            leaf.getClass().getSimpleName() == "LogicalRDD"
            and leaf.rdd().id() in self.rdd_ids
            for leaf in (leaves.apply(i) for i in range(leaves.size()))
        )

    def trees(self, df) -> list[str]:
        """``df``'s plan tree, then every recorded build's tree:
        together, the whole plan a query runs, seen through its pins.
        Node ids restart in each tree, so count nodes per tree."""
        builds = [e.split("\n\n", 1)[0] for e in self.explains]
        return [pi.tree(df), *builds]


@pytest.fixture
def pin_builds(monkeypatch) -> PinBuilds:
    """Record every pin build of the test. The root scope is released
    first, so the test's shared pins are built (and recorded) here
    instead of reused from an earlier test, and again after."""
    rec = PinBuilds()
    materialize = pinning._materialize

    def recording(df):
        rec.explains.append(pi.explain_str(df))
        pinned = materialize(df)
        rec.rdd_ids.add(pinned._jdf.queryExecution().analyzed().rdd().id())
        return pinned

    pinning.unpersist_all()
    monkeypatch.setattr(pinning, "_materialize", recording)
    yield rec
    pinning.unpersist_all()
