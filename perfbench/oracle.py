"""DuckDB oracles and the result comparison.

Results are compared as ``tools_verify_queries`` compares them: columns
matched by name, every value passed through its ``norm`` (floats rounded
to 9 decimals, NaN and -0.0 canonicalised, lists to tuples), then the row
multisets must be equal. The engine side arrives as a pandas frame
(``toPandas`` is what the loop times), so numpy scalars and arrays and
pandas timestamps are first turned back into the Python values a
``collect()`` would give. Arrow turns a null in an integer column into
NaN, so null and NaN compare equal here on both sides.
"""

from __future__ import annotations

import math
import os
from collections import Counter

import numpy as np
import pandas as pd

from perfbench.inputs import table_path


def _plain(v):
    if v is None:
        return None
    if isinstance(v, np.ndarray):
        return [_plain(x) for x in v.tolist()]
    if isinstance(v, (list, tuple)):
        return [_plain(x) for x in v]
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime()
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def fingerprint(columns: list[str], rows) -> tuple[tuple[str, ...], Counter]:
    """(sorted column names, multiset of normalised rows in that order)."""
    from tools_verify_queries import norm

    order = sorted(range(len(columns)), key=lambda i: columns[i])
    bag = Counter(tuple(norm(_plain(r[i])) for i in order) for r in rows)
    return tuple(columns[i] for i in order), bag


def frame_fingerprint(pdf: pd.DataFrame):
    return fingerprint(list(pdf.columns), pdf.itertuples(index=False, name=None))


class Oracle:
    """A DuckDB connection with one view per generated table."""

    def __init__(self, data_dir: str, tables: tuple[str, ...], threads: int):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute(f"SET threads TO {threads}")
        self.con.execute("SET memory_limit = '2GB'")
        for t in tables:
            glob = os.path.join(table_path(data_dir, t), "*.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{glob}')")

    def run(self, sql: str):
        rel = self.con.sql(sql)
        return list(rel.columns), rel.fetchall()

    def close(self) -> None:
        self.con.close()
