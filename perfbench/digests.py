"""Order-insensitive digests of query outputs.

``rowset`` is a frozen copy of the normalisation in ``tests/oracle.py``
(``_norm``/``_rowset``): floats rounded to 6 decimals, ``-0.0`` folded to
``0.0``, dates and timestamps as ISO strings, rows sorted with NULLs last.
It is copied rather than imported so that the recorded digests keep their
meaning when the test helpers change.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
from datetime import date, datetime
from decimal import Decimal

FLOAT_DECIMALS = 6
DIGESTS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")


def _norm(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        r = round(v, FLOAT_DECIMALS)
        return 0.0 if r == 0 else r
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def rowset(cols, rows) -> list[tuple]:
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(_norm(row[i]) for i in idx) for row in rows),
        key=lambda t: tuple((x is None, str(x)) for x in t),
    )


def digest(cols, rows) -> str:
    """sha256 over the sorted column names and the normalised rowset."""
    h = hashlib.sha256()
    h.update(repr(sorted(cols)).encode())
    for row in rowset(cols, rows):
        h.update(repr(row).encode())
        h.update(b"\n")
    return h.hexdigest()


def load(path: str = DIGESTS_PATH) -> dict:
    with open(path) as f:
        return json.load(f)


def expected(book: dict, scale: float, query: str) -> str | None:
    entry = book.get(f"sf{scale:g}", {}).get(query)
    return entry["digest"] if entry else None
