"""The pools hold only read-only queries.

The static tests read the registry.  The guarded test runs every pool
query once, at the smallest scale, under the same tree guard the
runner uses, and fails naming any query that changed a watched path.
It starts a Spark session.
"""

import os

import pytest

import guard
import pools
from conftest import CHECKOUT

SMALL_SF = "sf0.001"


def _specs():
    from mo_etl_spark.registry import all_queries

    return all_queries()


@pytest.mark.parametrize("workload", sorted(pools.MODULES))
def test_pool_covers_its_modules_without_excluded_tags(workload):
    specs = _specs()
    pool = pools.POOLS[workload]
    assert len(set(pool)) == len(pool)
    assert len(pool) % 2 == 1  # odd passes of an odd pool: the median is a sample
    mods = set()
    for n in pool:
        mod = specs[n].fn.__module__.rsplit(".", 1)[-1]
        assert mod in pools.MODULES[workload], n
        assert not pools.EXCLUDED_TAGS.intersection(specs[n].tags), n
        mods.add(mod)
    assert mods == set(pools.MODULES[workload])


@pytest.mark.parametrize("workload", sorted(pools.MODULES))
def test_order_is_a_seeded_rotation(workload):
    pool = list(pools.POOLS[workload])
    a = pools.order(workload, 7)
    assert a == pools.order(workload, 7)
    k = a.index(pool[0])
    assert a[k:] + a[:k] == pool
    assert any(pools.order(workload, s) != a for s in range(8, 20))


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from worker import start_session

    # Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (CHECKOUT, os.environ.get("PYTHONPATH")) if p
    )
    session = start_session(str(tmp_path_factory.mktemp("spark")), {})
    yield session
    session.stop()


@pytest.mark.parametrize("workload", sorted(pools.MODULES))
def test_no_pool_query_trips_the_guard(workload, spark, tmp_path):
    from mo_etl_spark.tables import DEFAULT_SF_DIR

    import __spark_entry__ as entry

    sf_dir = os.path.join(os.path.dirname(DEFAULT_SF_DIR), SMALL_SF)
    if not os.path.isdir(sf_dir):
        pytest.skip(f"no input tables at {sf_dir}")
    queries = entry.queries()
    g = guard.TreeGuard(
        [CHECKOUT] + guard.engine_write_roots(CHECKOUT), exempt=[str(tmp_path)]
    )
    flagged = {}
    for name in pools.POOLS[workload]:
        g.start()
        queries[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
        touched = g.check()
        if touched:
            flagged[name] = touched[:3]
    assert flagged == {}
