from __future__ import annotations

import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

SF_TEST_DIR = os.environ.get("SRI_SPARK_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from sri_spark.session import get_spark

    spark = get_spark("sri_spark-tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_TEST_DIR


@pytest.fixture(scope="session")
def catalog_builds(spark, sf_dir) -> dict[str, dict]:
    """Every registered catalog query built exactly ONCE, shared by the
    three catalog-wide plan gates (advisor fatal sweep, driver-action
    sweep, nested-loop sweep). Before this fixture each sweep rebuilt all
    267 plans itself — ~2 min of identical plan construction per module,
    ~6 min of the suite's 33 total.

    Per query: {"actions": [method names recorded during the BUILD only],
    "plan": executedPlan text extracted after the recorder exits (so plan
    access never pollutes the action record), "error": exception text if
    the build or plan extraction failed}. Caches are released between
    builds so each query plans against a clean session, and the plan is
    extracted BEFORE the release so scoped persists appear in it exactly
    as they would when the query runs."""
    from sri_spark.operators.caching import unpersist_all
    from sri_spark.plans import all_queries
    from tests.advisor import record_driver_actions

    builds: dict[str, dict] = {}
    for name, fn in sorted(all_queries().items()):
        rec: dict = {"actions": [], "plan": None, "error": None}
        try:
            with record_driver_actions() as calls:
                df = fn(spark, sf_dir)
            rec["actions"] = sorted(set(calls))
            rec["plan"] = df._jdf.queryExecution().executedPlan().toString()
        except Exception as ex:  # building the plan must itself work
            rec["error"] = f"{type(ex).__name__}: {ex}"
        finally:
            unpersist_all()
        builds[name] = rec
    return builds
