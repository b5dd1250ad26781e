"""Output checks: order-insensitive result hashes and the stored expected
values they are compared with.

The hash follows the driver-emulation recipe of the repository's verify
harness: columns in sorted-name order, floats (and decimals) rounded to
two absolute decimals, rows sorted, then md5.  Both sides are hashed from
plain Python rows (Spark ``Row`` objects or DuckDB ``fetchall`` tuples),
so the same function serves the engine and the oracle.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math
import os

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "expected.json")


def _float(v: float) -> str:
    # format rounds the binary value correctly, as round(v, 2) does
    return "NULL" if v != v else f"{v:.2f}"


def _cell(v) -> str:
    fast = _FAST.get(type(v))
    if fast is not None:
        return fast(v)
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        return _float(float(v))
    if hasattr(v, "asDict"):  # a nested Spark Row (struct column)
        return _cell(v.asDict(recursive=False))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{_cell(k)}:{_cell(x)}"
                              for k, x in sorted(v.items())) + "}"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, datetime.datetime):
        iso = v.isoformat()
        return iso[:10] if iso.endswith("T00:00:00") else iso
    if isinstance(v, datetime.date):
        return v.isoformat()
    if type(v).__name__ == "ndarray":
        return _cell(v.tolist())
    return str(v)


_FAST = {int: str, str: str, float: _float}


def value_hash(columns: list[str], rows: list) -> str:
    """md5 over the sorted rendered rows, columns taken in sorted order
    (case-insensitive names, as DuckDB and Spark may differ in case).

    Empties ``rows``: each row is dropped once rendered, so the rows and
    their rendering are not held in memory together (the check runs in
    the measured driver, whose peak RSS is a metric)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    rendered = []
    while rows:
        r = rows.pop()
        rendered.append("|".join([_cell(r[i]) for i in order]))
    rendered.sort()
    # the md5 of "\n".join(rendered), without building the joined string
    h = hashlib.md5()
    for i, line in enumerate(rendered):
        h.update(f"\n{line}".encode() if i else line.encode())
    return h.hexdigest()


def load_expected(path: str = EXPECTED_PATH) -> dict:
    with open(path) as f:
        return json.load(f)


def compare(expected: dict | None, n_rows: int, digest: str) -> str | None:
    """None when the result matches, else the cause of the mismatch."""
    if expected is None:
        return "no expected value stored"
    if expected["rows"] != n_rows:
        return f"rows {n_rows} != expected {expected['rows']}"
    if expected["hash"] != digest:
        return f"hash {digest} != expected {expected['hash']}"
    return None


def close_rows(got: list, want: list) -> str | None:
    """Order-insensitive comparison of small results; floats within a
    relative 1e-9 (sums over millions of rows differ in their last digits
    between engines)."""
    if len(got) != len(want):
        return f"rows {len(got)} != expected {len(want)}"
    for g, w in zip(sorted(got, key=repr), sorted(want, key=repr)):
        for x, y in zip(g, w):
            if isinstance(x, float) or isinstance(y, float):
                if not math.isclose(float(x), float(y), rel_tol=1e-9):
                    return f"value {x} != expected {y} in row {g}"
            elif x != y:
                return f"value {x!r} != expected {y!r} in row {g}"
    return None


def etl_verify(ops: list[dict], fixture: str, threads: int,
               tmp: str) -> None:
    """Set ``check`` on every etl_10x op that read a snapshot back, and
    on every upsert, against DuckDB over the fixture's derived table: the
    base snapshot, or the snapshot after the seed's upsert batch.  An
    upserted snapshot is read back here, by DuckDB from the files the
    upsert wrote."""
    import duckdb

    import workloads as W

    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    con.execute(f"SET temp_directory = '{tmp}'")
    derived = f"read_parquet('{os.path.join(fixture, W.ETL_DERIVED)}')"
    refs: dict = {}
    try:
        for rec in ops:
            got = rec.pop("read_back", None)
            snapshot = rec.pop("snapshot", None)
            if snapshot is not None:
                files = os.path.join(snapshot, "**", "*.parquet")
                got = [list(r) for r in con.execute(
                    W.ETL_READBACK_SQL.format(
                        src=f"read_parquet('{files}', "
                            "hive_partitioning = true)")).fetchall()]
            if got is None:  # no read-back, or the op failed
                continue
            seed = rec["key"]
            if seed not in refs:
                src = derived
                if seed is not None:
                    pick = W.upsert_pick(seed)
                    src = (
                        f"(SELECT * FROM {derived} WHERE NOT ({pick}) "
                        f"UNION ALL SELECT * REPLACE (revenue * 1.1 AS "
                        f"revenue) FROM {derived} WHERE {pick} "
                        f"UNION ALL SELECT * REPLACE (-lk AS lk) FROM "
                        f"{derived} WHERE {pick})"
                    )
                cur = con.execute(W.ETL_READBACK_SQL.format(src=src))
                refs[seed] = [list(r) for r in cur.fetchall()]
            rec["check"] = close_rows(got, refs[seed])
    finally:
        con.close()
