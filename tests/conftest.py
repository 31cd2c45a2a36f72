from contextlib import contextmanager

import pytest


@pytest.fixture(scope="session")
def spark():
    from htrc_ingester_spark.session import get_spark

    s = get_spark("tests", cores=4, shuffle_partitions=4)
    yield s


@pytest.fixture
def forced(spark):
    """``with forced():`` runs the enclosed calls under
    ``spark.htrc.forceDistributed=true``, so every dual-regime operator
    takes its distributed (or shuffle) branch; ``forced(False)`` is a
    no-op, for loops over both regimes."""
    from htrc_ingester_spark.session import FORCE_DISTRIBUTED

    @contextmanager
    def _forced(on: bool = True):
        if on:
            spark.conf.set(FORCE_DISTRIBUTED, "true")
        try:
            yield
        finally:
            spark.conf.unset(FORCE_DISTRIBUTED)

    return _forced
