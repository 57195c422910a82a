import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from python_rasterstats_spark.fixtures import ensure_fixtures  # noqa: E402


@pytest.fixture(scope="session")
def fixture_dir():
    return ensure_fixtures()


@pytest.fixture(scope="session")
def spark():
    from python_rasterstats_spark.session import get_spark

    s = get_spark(master="local[8]", shuffle_partitions=8, app="prs-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def corpus(spark, fixture_dir):
    from python_rasterstats_spark.sources.tables import load_corpus

    return load_corpus(spark, fixture_dir)


@pytest.fixture
def pin_salt(monkeypatch):
    """``pin_salt(n)`` pins zonal_stats_df's holistic plan to the exact
    merge behind a salted pre-merge of ``n`` groups; ``pin_salt(None)``
    gives the choice back to operators/zonal.holistic_plan."""
    from python_rasterstats_spark.operators import zonal as Z

    plan = Z.holistic_plan

    def pin(n):
        monkeypatch.setattr(
            Z, "holistic_plan",
            plan if n is None else lambda *a, **kw: (None, n, None),
        )

    return pin
