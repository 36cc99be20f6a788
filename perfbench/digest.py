"""Order-insensitive result digests, comparable across engines.

The cell and row canonicalisation is the one the repo's oracle tests
use (``tests/conftest.py``: floats by bit pattern, decimals distinct
from floats, sorted columns and rows, sha256), so the benchmark accepts
a result exactly when those tests would.  The digest is salted with the
row count and the sorted column names, which ``frame_digest`` leaves
out.
"""

from __future__ import annotations

from tests.conftest import duckdb_result, frame_digest


def digest(cols: list[str], rows: list) -> str:
    h, n = frame_digest(cols, rows)
    return f"{h}:{n}:" + ",".join(sorted(cols))


def duckdb_digest(con, sql: str) -> str:
    return digest(*duckdb_result(con, sql))
