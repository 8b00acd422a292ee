"""Output checks: order-independent digests of query results, the DuckDB
reference for each benchmarked query, and the pinned expectations.

A query result is reduced to ``(rows, checksum)``: the checksum sums a
64-bit hash of every canonical row (column names sorted, floats rounded
to 6 places, as the repository's DuckDB gate compares them), so it does
not depend on row order or partitioning.
"""

from __future__ import annotations

import hashlib
import json
import os

PINS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")


def _cell(v) -> str:
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        return f"{round(v, 6):.6f}"
    if hasattr(v, "item") and not isinstance(v, (str, bytes)):
        return _cell(v.item())  # numpy scalar
    return str(v)


def digest(pdf) -> tuple[int, str]:
    """(row count, hex checksum) of a pandas frame, order-independent."""
    cols = sorted(pdf.columns)
    acc = int.from_bytes(hashlib.blake2b("|".join(cols).encode(), digest_size=8).digest(), "big")
    for row in pdf[cols].itertuples(index=False, name=None):
        line = "\x1f".join(_cell(v) for v in row).encode()
        acc += int.from_bytes(hashlib.blake2b(line, digest_size=8).digest(), "big")
    return len(pdf), f"{acc % 2**64:016x}"


def duckdb_results(corpus_dir: str, names: list[str]) -> dict:
    """Each query's ``oracle_sql()`` result, run by DuckDB over the same
    parquet files, as a pandas frame."""
    import duckdb

    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    for f in sorted(os.listdir(corpus_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(corpus_dir, f)
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
    try:
        return {n: con.execute(oracles[n]).fetchdf() for n in names}
    finally:
        con.close()


def close(got, ref, tol: float = 1e-3) -> bool:
    """Same rows, float columns within ``tol``. For results a query has
    already rounded (``round(cosine, 4)``): the two engines can round a
    value on the rounding boundary apart, so their digests differ."""
    cols = sorted(got.columns)
    if cols != sorted(ref.columns) or len(got) != len(ref):
        return False
    floats = [c for c in cols if "f" in (got[c].dtype.kind, ref[c].dtype.kind)]
    keys = [c for c in cols if c not in floats] or cols
    a = got[cols].sort_values(keys).reset_index(drop=True)
    b = ref[cols].sort_values(keys).reset_index(drop=True)
    exact = [c for c in cols if c not in floats]
    if not a[exact].astype(str).equals(b[exact].astype(str)):
        return False
    return all(((a[c].astype(float) - b[c].astype(float)).abs() <= tol).all() for c in floats)


def agrees(got, ref) -> bool:
    """A Spark result agrees with its DuckDB reference."""
    return digest(got) == digest(ref) or close(got, ref)


def load_pins() -> dict:
    if not os.path.exists(PINS_PATH):
        return {}
    with open(PINS_PATH) as f:
        return json.load(f)


def pinned(workload: str, seed: int) -> dict | None:
    return load_pins().get(workload, {}).get(str(seed))

