"""Driver-contract registry: the driver's correctness gate checks only the
first GATE_WINDOW entries of queries(), so the whole registry must fit in
the window, and every entry must carry its oracle. No Spark needed."""

from __future__ import annotations

import __spark_entry__ as E
from search_engine_spark.entry_queries import GATE_WINDOW, ORACLES, QUERIES


def test_registry_fits_the_gate_window():
    assert len(QUERIES) <= GATE_WINDOW


def test_every_entry_has_an_oracle():
    assert set(QUERIES) == set(ORACLES)


def test_driver_contract_exports_the_registry():
    assert list(E.queries()) == list(QUERIES)
    assert set(E.oracle_sql()) == set(QUERIES)
