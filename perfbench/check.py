"""Order-independent result fingerprints: row count plus a hash of the
sorted canonical rows, columns taken in name order. Floats are
rendered to 9 significant digits so the last-ulp noise of a parallel
sum cannot flip a fingerprint."""

from __future__ import annotations

import datetime
import hashlib
import math
from decimal import Decimal


def canon(v) -> str:
    if v is None:
        return "~"
    if isinstance(v, bool):
        return "b:" + str(v).lower()
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        return "~" if math.isnan(v) else f"f:{v:.9g}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return "t:" + v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return "x:" + bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(sorted(f"{canon(k)}:{canon(x)}"
                                     for k, x in v.items())) + "}"
    if isinstance(v, (list, tuple)):     # arrays and structs (Row)
        return "[" + ",".join(canon(x) for x in v) + "]"
    return "s:" + str(v)


def fingerprint(columns: list[str], rows) -> dict:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update("\x1e".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\n")
        h.update(line.encode())
    return {"rows": len(lines), "hash": h.hexdigest()[:20]}
