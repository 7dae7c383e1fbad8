"""Driver-contract registry: the driver's correctness gate checks only the
first GATE_WINDOW entries of queries(), so the whole registry must fit in
the window, every entry must carry its oracle, and the entries' index
cache must be keyed on the write-path code. No Spark needed."""

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


def test_index_cache_key_follows_the_write_path_code(monkeypatch):
    """The registry's index cache dir is keyed on the bytes of the
    modules that write an index: changing one changes the key (so an
    index older code built is never resumed and verified), and changing
    a file off the write path does not."""
    from pathlib import Path

    from search_engine_spark import entry_queries as EQ

    before = EQ._tagged_index_dir("/data/sf0.01", "upsert")
    assert before == EQ._tagged_index_dir("/data/sf0.01", "upsert")
    assert before != EQ._tagged_index_dir("/data/sf0.01", "incr")
    real = Path.read_bytes

    def edited(self):
        data = real(self)
        return data + b"# edit" if self.name == "codec.py" else data

    monkeypatch.setattr(Path, "read_bytes", edited)
    assert EQ._tagged_index_dir("/data/sf0.01", "upsert") != before
    monkeypatch.setattr(
        Path, "read_bytes",
        lambda self: real(self) + (b"#" if self.name == "query.py" else b""),
    )
    assert EQ._tagged_index_dir("/data/sf0.01", "upsert") == before
