import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from sakura_spark import get_spark

FULL_DIFF = os.environ.get("SAKURA_FULL_DIFF") == "1"


def diff_examples(full: int, quick: int) -> int:
    """Hypothesis example budget for the differential suites.

    The default run uses the quick profile so `pytest tests/` stays inside
    a tight iteration loop (the DRL tree differential alone was 10+ min at
    its full budget); `SAKURA_FULL_DIFF=1 pytest tests/` restores the full
    sweep. Hypothesis's example database persists shrunk failures, so any
    counterexample found by a full sweep keeps re-running in quick mode.
    """
    return full if FULL_DIFF else quick


@pytest.fixture(scope="session")
def spark():
    # Tiny fixtures: 2 shuffle partitions + 8 local threads + AQE off cut
    # per-stage scheduling and adaptive re-planning overhead (the dominant
    # costs at test scale). Plan shapes are partition-count independent and
    # no test asserts AQE behavior, so test_scale assertions are
    # unaffected; production sessions (get_spark defaults) keep AQE on.
    # Codegen OFF for tests: at row counts this small, Janino compilation
    # of every unique tiny plan is pure constant overhead (hundreds of
    # unique plans per run). Physical plan SHAPES (what test_scale
    # asserts: joins, exchanges, pushdown, Python nodes) are unaffected by
    # execution mode; production sessions keep codegen on.
    # Local data (createDataFrame, parallelize, range) splits into 4
    # partitions rather than one per thread: still several partitions, so
    # cross-partition logic stays exercised, but half the tasks per tiny
    # stage (a 1-row count took 0.65 s at 8 partitions, 0.3 s at 4, on a
    # 4-core host).
    s = get_spark(
        "sakura-tests",
        cpus=8,
        shuffle_partitions=2,
        extra_conf={
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.codegen.wholeStage": "false",
            "spark.sql.codegen.factoryMode": "NO_CODEGEN",
            "spark.default.parallelism": "4",
        },
    )
    yield s


@pytest.fixture()
def store(tmp_path):
    from sakura_spark.management.store import SnapshotStore

    return SnapshotStore(str(tmp_path / "store"))
