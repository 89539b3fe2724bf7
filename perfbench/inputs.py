"""Seeded inputs: ``tools_gen_scale.gen_tables`` with the run's seed mixed in.

``tools_gen_scale`` derives every cell from ``xxhash64(row id, literal
salt)``, so on its own it always yields the same tables. The benchmark
threads its ``--seed`` into the generator from outside: while the tables
are defined, the module's ``F`` is swapped for a view of
``pyspark.sql.functions`` whose ``xxhash64`` appends the seed as one more
hashed column. Keys, domains and distributions are unchanged (every hash
is still reduced with ``pmod`` into the same ranges); only the drawn
values differ from seed to seed, and the same seed always draws the same
values.

The tables are written into the run's directory under ``.bench_build``
in the checkout (ignored by git) and removed with it; their content hash,
computed by DuckDB over every row, is reported with the results.
"""

from __future__ import annotations

import hashlib
import os
import time
import types
from collections.abc import Iterable


class _SeededFunctions(types.ModuleType):
    """``pyspark.sql.functions`` with a seed folded into ``xxhash64``."""

    def __init__(self, seed: int):
        super().__init__("perfbench_seeded_functions")
        from pyspark.sql import functions as F

        self._F = F
        self._seed = seed

    def __getattr__(self, name: str):
        return getattr(self._F, name)

    def xxhash64(self, *cols):
        return self._F.xxhash64(*cols, self._F.lit(self._seed))


def seeded_tables(spark, mult: float, seed: int, names: Iterable[str]) -> dict:
    """DataFrames for ``names`` from ``gen_tables`` with ``seed`` mixed into
    every hash. The generator module is restored before returning."""
    import tools_gen_scale as G

    original = G.F
    G.F = _SeededFunctions(seed)
    try:
        tables = G.gen_tables(spark, mult)
    finally:
        G.F = original
    return {n: tables[n] for n in names}


def table_path(data_dir: str, name: str) -> str:
    return os.path.join(data_dir, f"{name}.parquet")


def content_hash(data_dir: str, names: Iterable[str]) -> str:
    """sha256 over each table's row count and sum of DuckDB row hashes:
    equal for equal contents whatever the file layout, row order or names."""
    import duckdb

    h = hashlib.sha256()
    with duckdb.connect() as con:
        for n in sorted(names):
            glob = os.path.join(table_path(data_dir, n), "*.parquet")
            rows, total = con.sql(
                f"SELECT count(*), sum(hash(t)::HUGEINT) FROM read_parquet('{glob}') t"
            ).fetchone()
            h.update(f"{n}:{rows}:{total};".encode())
    return h.hexdigest()


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except FileNotFoundError:
                pass  # a file removed while walking a live work dir
    return total


def generate(spark, data_dir: str, mult: float, seed: int, names: tuple[str, ...]) -> dict:
    """Write the seeded tables under ``data_dir``; returns the content hash
    of ``names``, the generation seconds and the parquet bytes per table.

    Every run generates afresh: a cached input set would skip the JVM work
    generation does before the warm-up pass and so change ``setup_s``."""
    t0 = time.perf_counter()
    for name, df in seeded_tables(spark, mult, seed, names).items():
        df.write.mode("overwrite").parquet(table_path(data_dir, name))
    gen_s = time.perf_counter() - t0
    return {
        "dir": data_dir,
        "gen_s": gen_s,
        "hash": content_hash(data_dir, names),
        "bytes": {n: dir_bytes(table_path(data_dir, n)) for n in names},
    }
