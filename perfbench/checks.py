"""Output checks against the DuckDB twins in ``__spark_entry__.oracle_sql()``.

Rows are compared as multisets, floats at a relative tolerance of 1e-9, the
same rule as the repository's parity tests.
"""

from __future__ import annotations

import math
from typing import Optional

import duckdb

TABLES = ["customer", "documents", "events", "lineitem", "nation"]


class Oracle:
    """DuckDB over the same parquet files the Spark side reads."""

    def __init__(self, sf_dir: str):
        import __spark_entry__

        self._sql = __spark_entry__.oracle_sql()
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    def sql(self, key: str) -> str:
        return self._sql[key]

    def rows(self, key: str, sql: Optional[str] = None) -> tuple[list, list]:
        res = self.con.execute(sql or self._sql[key])
        return [d[0] for d in res.description], res.fetchall()

    def compare(self, df, keys, sql: Optional[str] = None) -> Optional[str]:
        """None when ``df`` equals the twin(s) as a multiset of rows."""
        keys = [keys] if isinstance(keys, str) else keys
        drows, dcols = [], None
        for k in keys:
            dcols, rows = self.rows(k, sql)
            drows += rows
        scols = df.columns
        srows = [tuple(r) for r in df.collect()]
        if sorted(scols) != sorted(dcols):
            return f"columns {sorted(scols)} != twin {sorted(dcols)}"
        if len(srows) != len(drows):
            return f"{len(srows)} rows != twin {len(drows)}"
        ns, nd = _normalize(srows, scols), _normalize(drows, dcols)
        bad = [(a, b) for a, b in zip(ns, nd) if not _rows_equal(a, b)]
        return f"{len(bad)} rows differ from twin, e.g. {bad[0]}" if bad else None

    def compare_components(self, comps: dict, key: str) -> Optional[str]:
        """Union-find labels against the WCC twin, on the vertices the
        streamed edges touch."""
        _, rows = self.rows(key)
        want = dict(rows)
        bad = [(v, c, want.get(v)) for v, c in comps.items() if want.get(v) != c]
        if not comps:
            return "no components"
        return f"{len(bad)} labels differ from twin, e.g. {bad[0]}" if bad else None


def _normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(r[i] for i in order) for r in rows),
                  key=lambda t: tuple(str(x) for x in t))


def _equal(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        fa, fb = float(a), float(b)
        if math.isinf(fa) or math.isinf(fb):
            return fa == fb
        return math.isclose(fa, fb, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def _rows_equal(a, b) -> bool:
    return len(a) == len(b) and all(_equal(x, y) for x, y in zip(a, b))
