"""Registry answers against their DuckDB oracles.

Both sides go through ``tools/check_correctness.py``'s canonicalization
(pandas on both engines, then an order-insensitive multiset of
canonical cells), so an answer the benchmark accepts is one the
repository's correctness gate accepts.
"""

from __future__ import annotations

import importlib.util
import os
import sys

from .engine import ROOT

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _gate():
    """tools/check_correctness.py, loaded by path without letting its
    import-time ``sys.path`` edit leak into this process."""
    path = os.path.join(ROOT, "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("perfbench_gate", path)
    mod = importlib.util.module_from_spec(spec)
    saved = list(sys.path)
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod


_GATE = None


def canonical(df) -> tuple[list[str], list[str]]:
    """(sorted column names, canonical row multiset) of a Spark or
    DuckDB pandas frame."""
    global _GATE
    if _GATE is None:
        _GATE = _gate()
    cols = list(df.columns)
    rows = list(df.itertuples(index=False, name=None))
    return sorted(cols), _GATE.rows_to_multiset(cols, rows)


def duckdb_answers(sf_dir: str, sqls: dict[str, str]) -> dict[str, tuple]:
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(sf_dir, t + '.parquet')}')"
            )
        return {name: canonical(con.execute(sql).df()) for name, sql in sqls.items()}
    finally:
        con.close()
