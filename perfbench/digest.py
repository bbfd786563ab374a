"""Order-independent digest of a query result.

Two results get the same digest exactly when they have the same sorted
column names and the same rows, each as often, under Python equality: a
result that repeats a row (a join fan-out, say) does not match one that
holds it once. Numbers are folded
to their exact ratio, which is equal for equal values of any numeric type
(``1 == 1.0 == Decimal("1")``); everything else goes through a stable byte
hash, so a digest does not depend on ``PYTHONHASHSEED``.
"""

from __future__ import annotations

import datetime as dt
import decimal
import fractions
import hashlib
import math
from collections.abc import Iterable, Mapping


def _canon(v):
    if v is None:
        return "N"
    if isinstance(v, (bool, int, float, decimal.Decimal)):
        if isinstance(v, (float, decimal.Decimal)) and not math.isfinite(v):
            return ("x", str(float(v)))
        return ("n", *fractions.Fraction(v).as_integer_ratio())
    if isinstance(v, str):
        return ("s", v)
    if isinstance(v, (bytes, bytearray)):
        return ("b", bytes(v).hex())
    if isinstance(v, (dt.datetime, dt.date, dt.time)):
        return ("t", v.isoformat())
    if isinstance(v, Mapping):
        return ("m", sorted((str(k), _canon(x)) for k, x in v.items()))
    if isinstance(v, Iterable):
        return ("l", [_canon(x) for x in v])
    raise TypeError(f"cannot digest a value of type {type(v).__name__}")


def _row_hash(row) -> int:
    h = hashlib.blake2b(repr(_canon(tuple(row))).encode(), digest_size=8)
    return int.from_bytes(h.digest(), "little")


def result_digest(columns: Iterable[str], rows: Iterable) -> str:
    """``"<rows>:<hex>"`` over sorted column names and the multiset of rows."""
    hashes = sorted(_row_hash(r) for r in rows)
    h = hashlib.blake2b(digest_size=16)
    h.update(repr(sorted(columns)).encode())
    h.update(len(hashes).to_bytes(8, "little"))
    for x in hashes:
        h.update(x.to_bytes(8, "little"))
    return f"{len(hashes)}:{h.hexdigest()}"
