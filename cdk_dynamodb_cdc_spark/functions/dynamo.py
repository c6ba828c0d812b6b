"""DynamoDB AttributeValue wire-format codec.

The reference pipeline's first transform deserializes the DynamoDB
AttributeValue encoding (``{"S": ...}``, ``{"N": "1.5"}``, ``{"M": {...}}``,
``{"L": [...]}`` ...) into plain JSON before diffing
(``/root/reference/lib/lambda/dynamo-stream-handler.ts:101-110``, which
delegates to the public ``@aws-sdk/util-dynamodb`` ``unmarshall``).

This module is the Spark-native equivalent: a pure-Python codec (unit
testable without a JVM) that the dynamic-schema lane calls once per
record inside its single ``mapInPandas`` (``operators/pipeline.py``). The
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
"""

from __future__ import annotations

import json
from decimal import Decimal
from typing import Any

# DynamoDB's number range: magnitudes from 1E-130 to 9.99...E+125, i.e.
# adjusted (scientific) exponents -130..125, plus zero.
_N_MIN_EXP, _N_MAX_EXP = -130, 125
_N_INT_BOUND = 10 ** (_N_MAX_EXP + 1)


def parse_number(n: str) -> int | Decimal:
    """DynamoDB ``N`` values are arbitrary-precision decimal strings.

    Integral strings parse to Python int (exact, unbounded) so that e.g.
    an 18-digit id survives round-tripping; anything else parses to
    ``decimal.Decimal`` — exact as well, where a float would silently
    truncate past ~17 significant digits. Zero in any spelling parses to
    the int 0. Precision is not capped, but a value outside DynamoDB's
    range (NaN, infinities, or a magnitude beyond 1E-130..9.99...E+125)
    raises ``ValueError``: a 17-byte ``1e100000000`` would otherwise
    serialize as a 100 MB fixed-point number.
    """
    # int() rejects any string with a point, and its failure is costly
    if isinstance(n, str) and "." in n:
        num = Decimal(n)
    else:
        try:
            num = int(n)
        except ValueError:
            num = Decimal(n)
    if not num:
        return 0  # also a zero spelled '0E-999999999'
    if isinstance(num, int):
        if -_N_INT_BOUND < num < _N_INT_BOUND:
            return num
    elif num.is_finite() and _N_MIN_EXP <= num.adjusted() <= _N_MAX_EXP:
        return num
    raise ValueError(f"N value outside DynamoDB's number range: {n!r}")


def unmarshall_value(av: Any) -> Any:
    """Convert one AttributeValue node ``{tag: payload}`` to plain JSON.

    Tags are tested in order of frequency in typical items; every
    malformed node raises the same exception type and message whatever
    the order, since the dead-letter ``error`` column records them."""
    try:
        (tag, payload), = av.items()
    except (AttributeError, ValueError):
        raise ValueError(f"not an AttributeValue: {av!r}") from None
    if tag == "S":
        return payload
    if tag == "M":
        return {k: unmarshall_value(v) for k, v in payload.items()}
    if tag == "N":
        return parse_number(payload)
    if tag == "L":
        return [unmarshall_value(v) for v in payload]
    if tag == "BOOL":
        return bool(payload)
    if tag == "NULL":
        return None
    if tag == "SS":
        return sorted(payload)
    if tag == "NS":
        # int and Decimal order correctly under direct comparison — no
        # float key, which would collapse near-equal high-precision values
        return sorted(map(parse_number, payload))
    if tag == "BS":
        return sorted(payload)
    if tag == "B":
        return payload  # already base64 text on the JSON wire
    raise ValueError(f"unknown AttributeValue tag: {tag!r}")


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


# Stand-in for a Decimal while the C encoder runs (see dumps_canonical);
# control characters encode as escapes, so user text rarely equals it.
_DECIMAL_MARK = "\x00decimal\x00"
_QUOTED_MARK = json.dumps(_DECIMAL_MARK)


def dumps_canonical(obj: Any) -> str:
    """Canonical compact JSON (sorted keys) with exact Decimal support:
    the bytes of ``json.dumps(obj, sort_keys=True, separators=(",", ":"))``,
    with each Decimal written as its :func:`canonical_decimal` number.

    The C encoder cannot emit an unquoted number from its ``default``
    hook, so the hook stands each Decimal in as a marker string and
    records its text; the marker's encoded form is then replaced by the
    recorded texts in order. A JSON string never contains an unescaped
    quote, so the quoted marker only matches a whole string equal to it;
    if the input holds such a string or key, the count of matches
    exceeds the count of Decimals and the encoding is redone with a
    longer marker."""
    mark, quoted = _DECIMAL_MARK, _QUOTED_MARK
    while True:
        texts: list[str] = []

        def default(o: Any) -> str:
            if isinstance(o, Decimal):
                texts.append(canonical_decimal(o))
                return mark
            raise TypeError(f"not JSON-serializable: {type(o)}")

        out = json.dumps(obj, sort_keys=True, separators=(",", ":"),
                         default=default)
        if not texts:
            return out
        parts = out.split(quoted)
        if len(parts) == len(texts) + 1:
            texts.append("")
            return "".join([x for pair in zip(parts, texts) for x in pair])
        mark += "\x00"
        quoted = json.dumps(mark)
