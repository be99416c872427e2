"""Correctness gate: every query's rows against its DuckDB oracle or pin.

Oracle-paired queries run their ``__spark_entry__.oracle_sql()`` SQL through
DuckDB over the same parquet files the workload read. Rows-only queries
(no oracle) are compared with a digest pinned in ``digests.json`` for the
warehouse scale. Both sides go through ``rows_to_multiset`` from the test
suite's ``tests/conftest.py``, so rounding and multiset rules are the tests'.
"""

from __future__ import annotations

import hashlib
import json
import os

from datagen import TABLES

DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")


def digest(cols: list[str], rows: list[tuple]) -> str:
    from conftest import rows_to_multiset

    canon = sorted((repr(k), n) for k, n in rows_to_multiset(cols, rows).items())
    return hashlib.sha256(repr((sorted(cols), canon)).encode()).hexdigest()


def load_pins(scale: float) -> dict[str, str]:
    with open(DIGESTS) as f:
        return json.load(f).get(f"{scale:g}", {})


class Checker:
    """Compares collected Spark rows with the oracle or the pinned digest."""

    def __init__(self, data_dir: str, scale: float):
        import duckdb

        import __spark_entry__

        self.oracles = __spark_entry__.oracle_sql()
        self.pins = load_pins(scale)
        self.con = duckdb.connect()
        self._oracle_rows: dict[str, tuple[list[str], list[tuple]]] = {}
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet").replace("'", "''")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def close(self) -> None:
        self.con.close()

    def mismatch(self, name: str, cols: list[str], rows: list[tuple]) -> str | None:
        """None when the rows are right, else a one-line reason."""
        from conftest import rows_to_multiset

        if name not in self.oracles:
            pinned = self.pins.get(name)
            got = digest(cols, rows)
            if pinned is None:
                return f"no pinned digest (got {got})"
            return None if got == pinned else f"digest {got} != pinned {pinned}"
        if name not in self._oracle_rows:  # the oracle's rows never change in a run
            res = self.con.execute(self.oracles[name])
            self._oracle_rows[name] = ([d[0] for d in res.description],
                                       [tuple(r) for r in res.fetchall()])
        dcols, drows = self._oracle_rows[name]
        if sorted(cols) != sorted(dcols):
            return f"columns {cols} vs oracle {dcols}"
        if len(rows) != len(drows):
            return f"{len(rows)} rows vs oracle {len(drows)}"
        if rows_to_multiset(cols, rows) != rows_to_multiset(dcols, drows):
            return "values differ from oracle"
        return None
