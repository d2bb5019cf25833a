"""The correctness gate: a query's rows against its DuckDB oracle.

Comparison follows the engine's own differential harness
(``tests/oracle_harness.py``), whose DuckDB views and canonicalisation it
reuses: same column names, same row count, and the same multiset of rows
once columns are sorted by name and every value is canonicalised.  The
harness is strict about signed zero: ``-0.0`` and ``0.0`` differ.
"""

from __future__ import annotations

from tests.oracle_harness import _canon, duck_connect


class Answer:
    """Column names (sorted) and the sorted canonical rows of a result."""

    def __init__(self, columns: list[str], rows: list[tuple]):
        order = sorted(range(len(columns)), key=lambda i: columns[i])
        self.columns = [columns[i] for i in order]
        self.rows = sorted(tuple(_canon(r[i]) for i in order) for r in rows)

    def mismatch(self, other: Answer) -> str | None:
        """None when equal, else a one-line reason."""
        if self.columns != other.columns:
            return f"columns {self.columns} != {other.columns}"
        if len(self.rows) != len(other.rows):
            return f"row count {len(self.rows)} != {len(other.rows)}"
        for a, b in zip(self.rows, other.rows):
            if a != b:
                return f"first differing row {a} != {b}"
        return None


def oracle_answers(data_dir: str, oracles: dict[str, str]) -> dict[str, Answer]:
    """Run each oracle SQL on DuckDB over the parquet files in ``data_dir``."""
    con = duck_connect(data_dir)
    try:
        out = {}
        for name, sql in oracles.items():
            rel = con.execute(sql)
            out[name] = Answer([d[0] for d in rel.description], rel.fetchall())
        return out
    finally:
        con.close()
