"""Output checks, run outside the timed region.

- ``Oracle`` compares a registry query's result with its DuckDB twin over
  the same fixture files, with the repository's own comparison
  (``tests/oracle_utils.py``): column names, row count, then every value
  after sorting rows and columns.
- ``KeyModel`` is the benchmark's own model of the Delta table's rows in
  ``delta_rw``: it replays every write and answers what the table holds at
  any committed version, or in any key range now.
"""

from __future__ import annotations

import os
import sys

TESTS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests")


class Oracle:
    """DuckDB views over one fixture directory."""

    def __init__(self, sf_dir: str):
        sys.path.insert(0, TESTS)
        from oracle_utils import compare_frames, duck_connection

        self._compare = compare_frames
        self.con = duck_connection(sf_dir)

    def mismatch(self, name: str, sql: str, actual) -> str | None:
        """None when ``actual`` (a pandas frame) matches the oracle, else
        what differs."""
        problems = self._compare(actual, self.con.execute(sql).fetchdf(), name)
        return "; ".join(problems) if problems else None

    def close(self) -> None:
        self.con.close()


class KeyModel:
    """Key -> value map of the ``delta_rw`` table, with a summary per
    committed version: (row count, key sum, value sum)."""

    def __init__(self):
        self.rows: dict[int, int] = {}
        self.versions: dict[int, tuple[int, int, int]] = {}

    def upsert(self, keys, values) -> None:
        self.rows.update(zip(keys.tolist(), values.tolist()))

    def delete_range(self, lo: int, hi: int) -> int:
        gone = [k for k in self.rows if lo <= k <= hi]
        for k in gone:
            del self.rows[k]
        return len(gone)

    def summary(self, lo: int | None = None, hi: int | None = None) -> tuple[int, int, int]:
        """Summary of the rows now, or of those with ``lo <= key <= hi``."""
        if lo is None:
            return len(self.rows), sum(self.rows), sum(self.rows.values())
        keys = [k for k in self.rows if lo <= k <= hi]
        return len(keys), sum(keys), sum(self.rows[k] for k in keys)

    def commit(self, version: int) -> None:
        self.versions[version] = self.summary()
