"""Order-insensitive result digest; the Python twin of `Digest.scala`.

Both sides render each row to the same canonical text (columns by sorted
name; numbers by the bits of their double value, so an integer 5 equals a
double 5.0 and a decimal compares as its nearest double, as
`scripts/check.py` compares after pandas conversion; temporal values as
epoch microseconds in UTC), hash it with MD5, and sum the first 8 bytes
of every row's hash modulo 2^64 next to the row count.
"""
import datetime as dt
import decimal
import hashlib
import math
import struct
import uuid

_TWO53 = 1 << 53
_EPOCH = dt.datetime(1970, 1, 1)
_EPOCH_TZ = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)


def _num(d, out):
    if d == 0.0:
        d = 0.0
    if math.isnan(d):
        d = float("nan")
    bits = struct.unpack(">q", struct.pack(">d", d))[0]
    if math.isnan(d):
        bits = 0x7ff8000000000000  # Java's canonical NaN
    out.append("n" + format(bits & 0xFFFFFFFFFFFFFFFF, "x"))


def canon(v, out):
    """Append the canonical text of one value to the list `out`."""
    if v is None:
        out.append("N")
    elif isinstance(v, bool):
        out.append("b1" if v else "b0")
    elif isinstance(v, int):
        if -_TWO53 < v < _TWO53:
            _num(float(v), out)
        else:
            out.append("i" + str(v))
    elif isinstance(v, float):
        _num(v, out)
    elif isinstance(v, decimal.Decimal):
        _num(float(v), out)
    elif isinstance(v, str):
        out.append("s" + v)
    elif isinstance(v, dt.datetime):
        if v.tzinfo is None:
            us = (v - _EPOCH) // dt.timedelta(microseconds=1)
        else:
            us = (v - _EPOCH_TZ) // dt.timedelta(microseconds=1)
        out.append("t" + str(us))
    elif isinstance(v, dt.date):
        out.append("d" + v.isoformat())
    elif isinstance(v, (bytes, bytearray, memoryview)):
        out.append("x" + bytes(v).hex())
    elif isinstance(v, dict):
        if set(v) == {"key", "value"} and isinstance(v["key"], list):
            parts = []
            for k, x in zip(v["key"], v["value"]):
                e = []
                canon(k, e)
                e.append("->")
                canon(x, e)
                parts.append("".join(e))
            out.append("<" + "".join(p + ";" for p in sorted(parts)) + ">")
        else:
            out.append("{")
            for k in sorted(v):
                out.append(k + "=")
                canon(v[k], out)
                out.append(";")
            out.append("}")
    elif isinstance(v, (list, tuple)):
        out.append("[")
        for x in v:
            canon(x, out)
            out.append(";")
        out.append("]")
    elif isinstance(v, uuid.UUID):
        out.append("s" + str(v))
    else:
        out.append("?" + str(v))


def digest(names, rows):
    """Digest of a result given its column names and row tuples."""
    order = sorted(range(len(names)), key=lambda i: names[i])
    total = 0
    n = 0
    for r in rows:
        out = []
        for i in order:
            out.append("\x1f")
            canon(r[i], out)
        h = hashlib.md5("".join(out).encode("utf-8")).digest()
        total = (total + int.from_bytes(h[:8], "big")) & 0xFFFFFFFFFFFFFFFF
        n += 1
    return f"{','.join(names[i] for i in order)}|{n}|{total:x}"
