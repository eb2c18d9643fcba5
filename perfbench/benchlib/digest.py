"""Row count plus order-insensitive digest of a query answer.

The same canonical form as ``src/perfbench/Digest.scala``: each value becomes
a token (numbers to 9 significant digits, the precision
``scripts/local_verify.py`` compares at; timestamps without trailing fraction
zeros; booleans lower case; null as ``\\N``), a row is its tokens joined by
U+0001, and the digest is the sum mod 2**64 of the first 8 bytes of each
row's MD5, printed as 16 hex digits.
"""
import datetime
import decimal
import hashlib
import re

NULL = "\\N"
# ASCII digits only, as in Java's regex \d
_INT = re.compile(r"[+-]?\d+", re.ASCII)
_FLOAT = re.compile(r"[+-]?(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?", re.ASCII)
_TS = re.compile(r"(\d{4}-\d{2}-\d{2})[ T](\d{2}:\d{2})(?::(\d{2})(?:\.(\d+))?)?", re.ASCII)
_SPECIAL = {"true": "true", "false": "false", "nan": "nan", "+nan": "nan",
            "-nan": "nan", "inf": "inf", "+inf": "inf", "infinity": "inf",
            "+infinity": "inf", "-inf": "-inf", "-infinity": "-inf"}
MASK = (1 << 64) - 1


def sig9(x):
    """x rounded to 9 significant digits, plain notation, no trailing zeros."""
    if x == 0:
        return "0"
    return format(decimal.Decimal("%.9g" % x).normalize(), "f")


def canon(t):
    """Canonical token of one rendered value."""
    if t is None or t == NULL:
        return NULL
    special = _SPECIAL.get(t.lower())
    if special:
        return special
    if _INT.fullmatch(t):
        return str(int(t))
    if _FLOAT.fullmatch(t):
        return sig9(float(t))
    m = _TS.fullmatch(t)
    if m:
        d, hm, s, f = m.groups()
        frac = (f or "").rstrip("0")
        return "%s %s:%s%s" % (d, hm, s or "00", "." + frac if frac else "")
    return t


def java_text(v):
    """A DuckDB value as `Row.get(i).toString` renders the same Spark value."""
    if v is None:
        return NULL
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, (list, tuple)):
        return "ArraySeq(" + ", ".join(java_text(e) for e in v) + ")"
    if isinstance(v, dict):
        return "[" + ",".join(java_text(e) for e in v.values()) + "]"
    return str(v)


def token(v):
    """Canonical token of one typed value (arrays and structs recursively)."""
    if v is None:
        return NULL
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return canon(repr(v))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(token(e) for e in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(token(e) for e in v.values()) + "}"
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, datetime.datetime):
        return canon(v.isoformat(sep=" "))
    return canon(str(v))


def row_hash(tokens):
    md = hashlib.md5("\u0001".join(tokens).encode("utf-8")).digest()
    return int.from_bytes(md[:8], "big")


def _answer(token_rows):
    n, total = 0, 0
    for tokens in token_rows:
        total = (total + row_hash(tokens)) & MASK
        n += 1
    return n, "%016x" % total


def csv_answer(rows):
    """Answer of rows as `GraftSession.queryAs(sql, "CSV")` renders them:
    values joined with ',' (unquoted) and split back on ','."""
    return _answer([canon(t) for t in ",".join(java_text(v) for v in r).split(",")]
                   for r in rows)


def typed_answer(columns, rows):
    """Answer of typed rows, columns ordered by name as the oracle gate does."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return _answer([token(r[i]) for i in order] for r in rows)
