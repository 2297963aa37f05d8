"""Output checks against the registry's DuckDB oracles.

The comparison is the repo's correctness gate (``tools/check_oracle.py``):
same column names, same row count, and equal order-insensitive canonical
multisets, exact on float values (a hashed multiset here where the tool
sorts; both compare with ``==``). It is repeated here on purpose: the
benchmark must judge every commit by the same rule, so the rule may not
move when the code under test moves.
"""

from __future__ import annotations

import math
from collections import Counter

import duckdb


def canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, bytes):
        return v.hex()
    return v


def rows_to_multiset(cols, rows) -> Counter:
    """Rows as a multiset of canonical tuples, columns in name order."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(canon(r[i]) for i in idx) for r in rows)


def compare(scols, srows, ocols, orows) -> str | None:
    """``None`` when the Spark result equals the oracle's, else the first
    difference found."""
    if sorted(scols) != sorted(ocols):
        return f"columns spark={sorted(scols)} oracle={sorted(ocols)}"
    if len(srows) != len(orows):
        return f"rowcount spark={len(srows)} oracle={len(orows)}"
    sm, om = rows_to_multiset(scols, srows), rows_to_multiset(ocols, orows)
    if sm != om:
        extra, missing = list((sm - om).elements())[:2], list((om - sm).elements())[:2]
        return f"values differ: spark-only {extra}, oracle-only {missing}"
    return None


def oracle_answers(data_dir: str, tables, sqls: dict[str, str], threads: int):
    """``{name: (columns, rows)}`` for each oracle SQL over ``data_dir``."""
    con = duckdb.connect(config={"threads": threads})
    try:
        for t in tables:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        out = {}
        for name, sql in sqls.items():
            res = con.execute(sql)
            out[name] = ([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()
