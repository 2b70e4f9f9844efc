"""Order-independent digest of a DuckDB relation.

The normalization is that of ``tools/check_correctness.py``'s comparator
(``frame_key``): columns in name order, floating-point values as
``%.10g``, everything else as text. Timestamps become epoch microseconds,
so a Spark-written UTC timestamp and a naive one parsed by DuckDB from
the same text compare equal. Rows are hashed and summed, so row order
does not matter but duplicate rows do.
"""

from __future__ import annotations

_FLOAT_TYPES = ("DOUBLE", "FLOAT", "REAL")


def _norm_expr(name: str, dtype: str) -> str:
    col = '"' + name.replace('"', '""') + '"'
    if dtype in _FLOAT_TYPES:
        text = f"printf('%.10g', CAST({col} AS DOUBLE))"
    elif dtype.startswith("TIMESTAMP"):
        text = f"CAST(epoch_us({col}) AS VARCHAR)"
    else:
        text = f"CAST({col} AS VARCHAR)"
    return f"coalesce({text}, 'None')"


def relation_digest(con, sql: str) -> dict:
    """``{"rows", "columns", "digest"}`` of the result of ``sql``."""
    described = con.execute(f"DESCRIBE {sql}").fetchall()
    cols = sorted((row[0], row[1]) for row in described)
    row_text = " || chr(31) || ".join(_norm_expr(n, t) for n, t in cols)
    n, total = con.execute(
        f"SELECT count(*), coalesce(sum(CAST(hash({row_text}) AS HUGEINT)), 0) "
        f"FROM ({sql})"
    ).fetchone()
    return {"rows": int(n), "columns": [c for c, _ in cols], "digest": str(total)}
