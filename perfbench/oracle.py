"""DuckDB reference results for the registry workloads.

Each query with an `ORACLE` twin runs once in DuckDB (threads capped at
the run's core count) over the same parquet files; the rows are kept in
the normalized, order-insensitive form `tools/check_oracle.py` compares.
Queries without a twin are checked through their self-check columns.
"""

from __future__ import annotations

import math
from decimal import Decimal

SELF_CHECK_COLUMNS = ("valid", "roundtrip_ok", "ciphertext_differs")


def norm_cell(v) -> str:
    # type-strict: integer 509 and float 509.0 must not compare equal
    if isinstance(v, bool):
        return "b:" + str(int(v))
    if isinstance(v, float):
        return "f:NaN" if math.isnan(v) else "f:" + f"{v:.9g}"
    if isinstance(v, Decimal):
        return "f:" + f"{float(v):.9g}"
    if isinstance(v, int):
        return "i:" + str(v)
    return str(v)


def norm_rows(cols: list[str], rows) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)


class Oracle:
    def __init__(self, sf_dir: str, names: list[str], cores: int):
        import duckdb

        from mnemo_spark.io import TABLES, table_path
        from mnemo_spark.registry import ORACLE

        self.expected: dict[str, tuple[list[str], list[tuple]]] = {}
        con = duckdb.connect()
        try:
            con.execute(f"SET threads TO {cores}")
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{table_path(sf_dir, t)}')"
                )
            for name in names:
                if name in ORACLE:
                    res = con.sql(ORACLE[name])
                    cols = [c.lower() for c in res.columns]
                    self.expected[name] = (cols, norm_rows(cols, res.fetchall()))
        finally:
            con.close()

    def count(self, name: str) -> int | None:
        """The twin's row count, or None for a query with no twin."""
        exp = self.expected.get(name)
        return len(exp[1]) if exp else None

    def check_rows(self, name: str, cols: list[str], rows) -> str | None:
        """None when Spark's rows match the twin (or, with no twin, every
        self-check column is true); otherwise a one-line reason."""
        cols = [c.lower() for c in cols]
        if name not in self.expected:
            idx = [i for i, c in enumerate(cols) if c in SELF_CHECK_COLUMNS]
            bad = sum(1 for r in rows if any(r[i] is not True for i in idx))
            return f"self-check column false on {bad} rows" if bad else None
        ocols, orows = self.expected[name]
        if sorted(cols) != sorted(ocols):
            return f"columns spark={cols} duckdb={ocols}"
        srows = norm_rows(cols, rows)
        if len(srows) != len(orows):
            return f"rowcount spark={len(srows)} duckdb={len(orows)}"
        if srows != orows:
            diff = next(((a, b) for a, b in zip(srows, orows) if a != b), None)
            return f"value mismatch, first diff {diff}"
        return None
