"""DynamoDB AttributeValue wire-format codec.

The reference pipeline's first transform deserializes the DynamoDB
AttributeValue encoding (``{"S": ...}``, ``{"N": "1.5"}``, ``{"M": {...}}``,
``{"L": [...]}`` ...) into plain JSON before diffing
(``/root/reference/lib/lambda/dynamo-stream-handler.ts:101-110``, which
delegates to the public ``@aws-sdk/util-dynamodb`` ``unmarshall``).

This module is the Spark-native equivalent: a pure-Python codec (unit
testable without a JVM) that the dynamic-schema lane's one
``mapInPandas`` pass calls per record (``operators/pipeline.py``). The
typed lane never needs this — a declared StructType lets ``from_json`` +
column expressions do the work JVM-side.

Type mapping (SURVEY.md §1.2):
  S -> str, N -> int|Decimal (DynamoDB numbers are arbitrary-precision
  decimal strings on the wire; integral values parse to int, anything
  else to ``decimal.Decimal`` — both exact, so a 25-significant-digit
  ``N`` round-trips bit-for-bit; SURVEY §1.2 names DecimalType as the
  faithful mapping), BOOL -> bool, NULL -> None, M -> dict, L -> list,
  SS/NS/BS -> sorted list (sets are unordered on the wire — canonicalize
  so the diff operator sees deterministic values), B -> base64 str.

Payloads are type-checked against that mapping (S/N/B a string, BOOL a
bool, NULL ``true``, M an object, L an array, SS/NS/BS arrays of
strings): a mistyped payload raises ``ValueError`` and the record is
dead-lettered, rather than coerced into a wrong event
(``{"BOOL": "false"}`` is not ``true``).
"""

from __future__ import annotations

import json
import re
from decimal import Decimal, InvalidOperation
from json.encoder import encode_basestring_ascii as _quote
from typing import Any

# The wire grammar of a DynamoDB number. ASCII digits only: int() and
# Decimal() would also take "NaN", "Infinity", "1_000" and "٣".
_NUMBER_TEXT = re.compile(r"-?[0-9]+(?:\.[0-9]+)?(?:[eE][+-]?[0-9]+)?")
_MAX_DIGITS = 38  # significant digits DynamoDB keeps
_MIN_EXP, _MAX_EXP = -130, 125  # 1E-130 <= |n| <= 9.99...E+125


def parse_number(n: str) -> int | Decimal:
    """DynamoDB ``N`` values are decimal strings: zero, or at most 38
    significant digits with magnitude 1E-130 to 9.99...E+125.

    Integral strings parse to Python int (exact, unbounded) so that e.g.
    an 18-digit id survives round-tripping; anything else parses to
    ``decimal.Decimal`` — exact as well, where a float would silently
    truncate past ~17 significant digits. Text outside the domain raises
    ``ValueError``: ``NaN`` would reach the output as a non-JSON token,
    and ``1e400`` would print as a 401-digit string.
    """
    if not isinstance(n, str) or _NUMBER_TEXT.fullmatch(n) is None:
        raise ValueError(f"not a DynamoDB number: {n!r}")
    try:
        d = Decimal(n)
    except InvalidOperation:  # an exponent too large for Decimal itself
        raise ValueError(f"number outside DynamoDB's range: {n!r}") from None
    exponent = "e" in n or "E" in n
    if d:
        digits = d.as_tuple().digits
        if len(digits) > _MAX_DIGITS:  # trailing zeros are not significant
            digits = bytes(digits).rstrip(b"\0")
        if len(digits) > _MAX_DIGITS or not _MIN_EXP <= d.adjusted() <= _MAX_EXP:
            raise ValueError(f"number outside DynamoDB's range: {n!r}")
    elif exponent:
        return 0  # "0e-999999": no digits, and no exponent to print
    return d if exponent or "." in n else int(n)


def _str_list(tag: str, payload: Any) -> list:
    if not isinstance(payload, list) or not all(isinstance(v, str) for v in payload):
        raise ValueError(f"{tag} payload must be a list of strings: {payload!r}")
    return payload


def unmarshall_value(av: Any) -> Any:
    """Convert one AttributeValue node ``{tag: payload}`` to plain JSON."""
    if not isinstance(av, dict) or len(av) != 1:
        raise ValueError(f"not an AttributeValue: {av!r}")
    ((tag, payload),) = av.items()
    # tags in the order of how often items carry them
    if tag == "S":
        if isinstance(payload, str):
            return payload
    elif tag == "N":
        return parse_number(payload)
    elif tag == "M":
        if isinstance(payload, dict):
            return {k: unmarshall_value(v) for k, v in payload.items()}
    elif tag == "BOOL":
        if isinstance(payload, bool):
            return payload
    elif tag == "L":
        if isinstance(payload, list):
            return [unmarshall_value(v) for v in payload]
    elif tag == "NULL":
        if payload is True:
            return None
    elif tag == "SS" or tag == "BS":
        return sorted(_str_list(tag, payload))
    elif tag == "NS":
        # int and Decimal order correctly under direct comparison — no
        # float key, which would collapse near-equal high-precision values
        return sorted(parse_number(v) for v in _str_list(tag, payload))
    elif tag == "B":
        if isinstance(payload, str):
            return payload  # already base64 text on the JSON wire
    else:
        raise ValueError(f"unknown AttributeValue tag: {tag!r}")
    raise ValueError(f"bad {tag} payload: {payload!r}")


def unmarshall(item: dict[str, Any] | None) -> dict[str, Any] | None:
    """Unmarshall a whole item: map of attribute name -> AttributeValue."""
    if item is None:
        return None
    return {k: unmarshall_value(v) for k, v in item.items()}


def unmarshall_json(marshalled: str | None) -> str | None:
    """String-to-string unmarshall: wire JSON in, canonical plain JSON out.

    Canonical form = sorted keys, compact separators, so equal documents
    always serialize identically (needed by the diff's atomic array
    comparison and by exact-dedup on payloads).
    """
    if marshalled is None:
        return None
    return dumps_canonical(unmarshall(json.loads(marshalled)))


def canonical_decimal(d: Decimal) -> str:
    """Canonical JSON-number text for a Decimal: fixed-point with
    trailing fractional zeros stripped, never exponent notation —
    '1.50' and '1.5' serialize identically, like JS number printing.
    NOT ``normalize()``: that rounds to the 28-digit context precision,
    silently truncating exactly the long values this exists to keep."""
    s = format(d, "f")  # exact: no context rounding
    if "." in s:
        s = s.rstrip("0").rstrip(".")
    return "0" if s in ("-0", "") else s


def dumps_canonical(obj: Any) -> str:
    """Canonical compact JSON (sorted keys) with exact Decimal support.

    ``json.dumps`` cannot emit a Decimal as an unquoted number (its
    ``default`` hook re-serializes), so this is a small recursive
    serializer producing the same bytes as
    ``json.dumps(obj, sort_keys=True, separators=(",", ":"))`` for
    non-Decimal input of the exact JSON types (str, int, float, bool,
    None, dict with str keys, list, tuple). One list of parts per call:
    strings go through ``json``'s own C escaper, ints through
    ``int.__repr__``, Decimals through :func:`canonical_decimal`."""
    parts: list[str] = []
    _emit(obj, parts.append)
    return "".join(parts)


def _emit(obj: Any, put) -> None:
    # exact-type dispatch: the values unmarshall and json.loads build
    t = type(obj)
    if t is str:
        put(_quote(obj))
    elif t is dict:
        sep = "{"
        for k in sorted(obj):
            put(sep + _quote(k) + ":")
            _emit(obj[k], put)
            sep = ","
        put("}" if sep == "," else "{}")
    elif t is list or t is tuple:
        sep = "["
        for v in obj:
            put(sep)
            _emit(v, put)
            sep = ","
        put("]" if sep == "," else "[]")
    elif obj is True:
        put("true")
    elif obj is False:
        put("false")
    elif t is int:
        put(int.__repr__(obj))
    elif obj is None:
        put("null")
    elif t is Decimal:
        put(canonical_decimal(obj))
    elif t is float:
        put(json.dumps(obj))  # float repr, and json's NaN/Infinity spelling
    else:
        raise TypeError(f"not JSON-serializable: {t}")
