"""Order-insensitive result digests, and the tool that records them
from the DuckDB oracle.

A digest covers the sorted column names and the rows normalised the
way ``cqs_spark.testing`` compares them (columns sorted by name,
floats rounded to 4 places, -0.0 collapsed, rows sorted).  On top of
that, each cell gets one canonical spelling so that a pandas frame
from ``toPandas()`` and DuckDB's tuples agree: integral numbers of any
type print as ints, NaN and NULL both print as null (``toPandas``
turns a NULL double into NaN), arrays and structs print as lists,
and integers beyond 2**53 keep only float64 precision, because
``toPandas`` holds a bigint column with NULLs as float64.

Record the digests for the benchmark's inputs with::

    python3 perfbench/digests.py

It runs every query's ``oracle_sql()`` on DuckDB over
``perfbench/testdata/<sf>`` and rewrites ``perfbench/digests.json``.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
DIGESTS = os.path.join(HERE, "digests.json")
TESTDATA = os.path.join(HERE, "testdata")


def _cell(v):
    if v is None:
        return None
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        v = v.tolist()  # numpy scalar or array
    if isinstance(v, dict):
        return [_cell(x) for x in v.values()]
    if isinstance(v, (list, tuple)):
        return [_cell(x) for x in v]
    if isinstance(v, bool):
        return v
    if isinstance(v, decimal.Decimal):
        v = int(v) if v == v.to_integral_value() else float(v)
    if isinstance(v, int) and abs(v) > 2**53:
        v = int(float(v))  # toPandas holds nullable bigints as float64
    if isinstance(v, float):
        if math.isnan(v):
            return None
        v = round(v, 4) or 0.0  # or: collapse -0.0
        return int(v) if v.is_integer() else v
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if hasattr(v, "isoformat"):  # pandas Timestamp
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return v


def digest(columns: list[str], rows) -> str:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    norm = [json.dumps([_cell(r[i]) for i in order], default=str) for r in rows]
    norm.sort()
    h = hashlib.sha256(json.dumps(sorted(columns)).encode())
    for line in norm:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:20]


def pandas_digest(pdf) -> str:
    cols = [str(c) for c in pdf.columns]
    return digest(cols, pdf.itertuples(index=False, name=None))


def load() -> dict:
    with open(DIGESTS) as fh:
        return json.load(fh)


def record() -> None:
    sys.path[:0] = [os.path.dirname(HERE), HERE]
    import __spark_entry__ as E
    from cqs_spark.testing import duckdb_conn
    from qset import QUERIES

    oracles = E.oracle_sql()
    out: dict = {}
    for sf in sorted(os.listdir(TESTDATA)):
        con = duckdb_conn(os.path.join(TESTDATA, sf))
        try:
            for q in QUERIES:
                cur = con.execute(oracles[q])
                cols = [c[0] for c in cur.description]
                rows = cur.fetchall()
                out.setdefault(sf, {})[q] = {"digest": digest(cols, rows), "rows": len(rows)}
                print(sf, q, len(rows), flush=True)
        finally:
            con.close()
    from cqs_spark.operators.jpegcodec import decode_jpeg_luma
    from kernels import blobs, jpeg_digest

    out["kernels"] = {"jpeg_luma": jpeg_digest(decode_jpeg_luma(blobs()["jpeg"]))}
    with open(DIGESTS, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    record()
