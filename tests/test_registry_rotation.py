"""Invariants of the driver-facing query registry (``plans.QUERIES`` /
``plans.ORACLE``). Pure-Python checks — no Spark session."""

from federated_gcn_spark.plans import ORACLE, QUERIES
from federated_gcn_spark.plans.queries import QUERIES as _RAW


def test_rotation_preserves_the_full_registry():
    # the package exports every registered query in registration order,
    # and every oracle twin belongs to a declared query
    assert list(QUERIES) == list(_RAW)
    assert set(ORACLE) <= set(QUERIES)
