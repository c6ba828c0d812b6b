"""Unit tests for the AttributeValue codec (no JVM needed)."""

import json
import sys
from decimal import Decimal

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from cdk_dynamodb_cdc_spark.functions.dynamo import (
    _DECIMAL_MARK,
    canonical_decimal,
    dumps_canonical,
    parse_number,
    unmarshall,
    unmarshall_json,
    unmarshall_value,
)
from cdk_dynamodb_cdc_spark.functions.diff import compare_images
from cdk_dynamodb_cdc_spark.operators.pipeline import (
    _dead_letter_batches,
    _diff_batches,
    _diff_record,
    _parse_record,
)


def test_scalars():
    assert unmarshall_value({"S": "hi"}) == "hi"
    assert unmarshall_value({"N": "1.5"}) == 1.5
    assert unmarshall_value({"N": "7"}) == 7
    assert isinstance(unmarshall_value({"N": "7"}), int)
    assert unmarshall_value({"N": "123456789012345678901"}) == 123456789012345678901
    assert unmarshall_value({"BOOL": True}) is True
    assert unmarshall_value({"NULL": True}) is None
    assert unmarshall_value({"B": "aGVsbG8="}) == "aGVsbG8="


def test_nested():
    av = {"M": {"a": {"L": [{"N": "1"}, {"S": "x"}, {"M": {"b": {"BOOL": False}}}]}}}
    assert unmarshall_value(av) == {"a": [1, "x", {"b": False}]}


def test_sets_canonicalized():
    assert unmarshall_value({"SS": ["b", "a"]}) == ["a", "b"]
    assert unmarshall_value({"NS": ["10", "2"]}) == [2, 10]
    assert unmarshall_value({"BS": ["Zm9v", "YmFy"]}) == ["YmFy", "Zm9v"]


def test_item_and_json_roundtrip():
    item = {"pk": {"S": "USER#1"}, "n": {"N": "2"}}
    assert unmarshall(item) == {"pk": "USER#1", "n": 2}
    assert unmarshall(None) is None
    assert unmarshall_json('{"pk":{"S":"a"},"b":{"BOOL":true}}') == '{"b":true,"pk":"a"}'
    assert unmarshall_json(None) is None


def test_canonical_dumps_stable():
    assert dumps_canonical({"b": 1, "a": [2, 1]}) == '{"a":[2,1],"b":1}'
    # byte-identical to json.dumps for the non-Decimal domain
    obj = {"s": "héllo\n", "n": -1.5, "l": [None, True, {"k": 0}], "i": 10**20}
    assert dumps_canonical(obj) == json.dumps(
        obj, sort_keys=True, separators=(",", ":")
    )


def test_decimal_fidelity():
    """SURVEY §1.2: N is an arbitrary-precision decimal string; the
    dynamic lane must not round it through float64."""
    v = unmarshall_value({"N": "1.234567890123456789012345"})
    assert isinstance(v, Decimal)
    assert v == Decimal("1.234567890123456789012345")
    # canonical text: exact digits, normalized trailing zeros, no quotes
    assert dumps_canonical({"x": v}) == '{"x":1.234567890123456789012345}'
    assert dumps_canonical({"x": unmarshall_value({"N": "1.50"})}) == '{"x":1.5}'
    assert (
        unmarshall_json('{"v":{"N":"0.10000000000000000000000001"}}')
        == '{"v":0.10000000000000000000000001}'
    )
    # NS ordering is exact, not float-keyed
    ns = unmarshall_value({"NS": ["0.30000000000000000000000002",
                                  "0.30000000000000000000000001"]})
    assert [str(x) for x in ns] == [
        "0.30000000000000000000000001", "0.30000000000000000000000002"
    ]


# --- property tests against the reference codec --------------------------
#
# Reference codec: a plain recursive serializer and a plain tag dispatch.
# The engine's codec must match it byte for byte, value for value and
# error for error.


def _canonical_parts(obj):
    if obj is None or isinstance(obj, (bool, int, float, str)):
        yield json.dumps(obj)
    elif isinstance(obj, Decimal):
        yield canonical_decimal(obj)
    elif isinstance(obj, dict):
        yield "{"
        first = True
        for k in sorted(obj):
            if not first:
                yield ","
            first = False
            yield json.dumps(k)
            yield ":"
            yield from _canonical_parts(obj[k])
        yield "}"
    elif isinstance(obj, (list, tuple)):
        yield "["
        first = True
        for v in obj:
            if not first:
                yield ","
            first = False
            yield from _canonical_parts(v)
        yield "]"
    else:
        raise TypeError(f"not JSON-serializable: {type(obj)}")


def _reference_dumps(obj):
    return "".join(_canonical_parts(obj))


def _reference_parse_number(n):
    try:
        return int(n)
    except ValueError:
        return Decimal(n)


def _reference_unmarshall_value(av):
    if not isinstance(av, dict) or len(av) != 1:
        raise ValueError(f"not an AttributeValue: {av!r}")
    tag, payload = next(iter(av.items()))
    if tag == "S":
        return payload
    if tag == "N":
        return _reference_parse_number(payload)
    if tag == "BOOL":
        return bool(payload)
    if tag == "NULL":
        return None
    if tag == "M":
        return {k: _reference_unmarshall_value(v) for k, v in payload.items()}
    if tag == "L":
        return [_reference_unmarshall_value(v) for v in payload]
    if tag == "SS":
        return sorted(payload)
    if tag == "NS":
        return sorted(_reference_parse_number(v) for v in payload)
    if tag == "BS":
        return sorted(payload)
    if tag == "B":
        return payload
    raise ValueError(f"unknown AttributeValue tag: {tag!r}")


def _outcome(fn, arg):
    """The value, or the exception type and message, of ``fn(arg)``."""
    try:
        return "ok", fn(arg)
    except Exception as exc:  # noqa: BLE001 - the error itself is compared
        return "raised", (type(exc), str(exc))


_marker_text = st.sampled_from([
    _DECIMAL_MARK,
    _DECIMAL_MARK + "\x00",  # the marker of the first retry
    "x" + _DECIMAL_MARK,
    _DECIMAL_MARK + "y",
    json.dumps(_DECIMAL_MARK),
])
_text = st.one_of(st.text(max_size=8), _marker_text,
                  st.sampled_from(["héllo", "日本", "\U0001f600", "\\", '"', ""]))
_decimal_strings = st.one_of(
    # mantissa and exponent spelled separately: 1E+5, -35e-3, 0E-7 ...
    st.builds(lambda m, e: f"{m}E{e:+d}", st.integers(-(10**30), 10**30),
              st.integers(-40, 40)),
    st.sampled_from(["-0", "0.0", "-0.000", "1.50", "1e1", "100.000"]),
    # 25+ significant digits
    st.builds(lambda a, b: f"{a}.{b}", st.integers(-(10**15), 10**15),
              st.integers(10**24, 10**27)),
)
_decimals = st.one_of(
    _decimal_strings.map(Decimal),
    st.decimals(allow_nan=False, allow_infinity=False, places=30,
                min_value=-(10**25), max_value=10**25),
)
_leaves = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(-(2**80), 2**80),
    st.floats(),
    _text,
    _decimals,
)
_documents = st.recursive(
    _leaves,
    lambda kids: st.one_of(
        st.lists(kids, max_size=5),
        st.dictionaries(_text, kids, max_size=5),
    ),
    max_leaves=25,
)


@given(_documents)
@settings(max_examples=400, deadline=None)
def test_dumps_canonical_matches_reference_serializer(doc):
    assert dumps_canonical(doc) == _reference_dumps(doc)


@pytest.mark.parametrize("retries", [1, 2, 3])
def test_dumps_canonical_marker_collisions(retries):
    """Strings and keys equal to the marker, and to the markers of the
    first retries, never absorb a Decimal's text."""
    texts = [_DECIMAL_MARK + "\x00" * i for i in range(retries)]
    doc = {t: [t, Decimal("1.50"), {"k": t, t: Decimal("-0")}] for t in texts}
    doc["n"] = Decimal("1E+3")
    out = dumps_canonical(doc)
    assert out == _reference_dumps(doc)
    expected = {t: [t, Decimal("1.5"), {"k": t, t: 0}] for t in texts}
    assert json.loads(out, parse_float=Decimal) == dict(expected, n=1000)


def test_dumps_canonical_unserializable_raises_type_error():
    with pytest.raises(TypeError, match="not JSON-serializable"):
        dumps_canonical({"a": [Decimal("1.5"), object()]})


_numbers = st.one_of(st.integers(-(10**40), 10**40).map(str), _decimal_strings)
_bad_numbers = st.sampled_from(["abc", "", "1.2.3", "--1", "0x10", "1e", "."])


def _attribute_values(malformed: bool):
    leaves = [
        st.builds(lambda s: {"S": s}, _text),
        st.builds(lambda n: {"N": n}, _numbers),
        st.builds(lambda b: {"BOOL": b}, st.booleans()),
        st.just({"NULL": True}),
        st.builds(lambda s: {"SS": s}, st.lists(_text, max_size=4)),
        st.builds(lambda s: {"NS": s}, st.lists(_numbers, max_size=4)),
        st.builds(lambda s: {"BS": s}, st.lists(st.sampled_from(
            ["Zm9v", "YmFy", ""]), max_size=3)),
        st.builds(lambda s: {"B": s}, st.sampled_from(["aGVsbG8=", ""])),
    ]
    if malformed:
        leaves += [
            st.just({}),                                   # wrong arity
            st.just({"S": "a", "N": "1"}),
            st.builds(lambda t: {t: "x"}, st.sampled_from(["Q", "s", "MAP"])),
            st.sampled_from(["x", 1, None, [{"S": "a"}]]),  # not a dict
            st.builds(lambda p: {"M": p}, st.sampled_from(  # non-dict M
                [[{"S": "a"}], "m", 3, None])),
            st.builds(lambda p: {"L": p}, st.sampled_from([None, 3, {"S": "a"}])),
            st.builds(lambda bad, ok: {"NS": ok + [bad]},  # non-numeric NS
                      _bad_numbers, st.lists(_numbers, max_size=3)),
            st.builds(lambda bad: {"N": bad}, _bad_numbers),
        ]
    return st.recursive(
        st.one_of(*leaves),
        lambda kids: st.one_of(
            st.builds(lambda m: {"M": m}, st.dictionaries(_text, kids, max_size=4)),
            st.builds(lambda l: {"L": l}, st.lists(kids, max_size=4)),
        ),
        max_leaves=20,
    )


@given(_attribute_values(malformed=False))
@settings(max_examples=300, deadline=None)
def test_unmarshall_value_matches_reference_on_valid_items(av):
    got = unmarshall_value(av)
    assert got == _reference_unmarshall_value(av)
    assert dumps_canonical(got) == _reference_dumps(_reference_unmarshall_value(av))


@given(_attribute_values(malformed=True))
@settings(max_examples=400, deadline=None)
def test_unmarshall_value_matches_reference_on_malformed_items(av):
    """Same value, or the same exception type and message, so the
    dead-letter ``error`` column reads the same."""
    assert _outcome(unmarshall_value, av) == _outcome(_reference_unmarshall_value, av)


@pytest.mark.parametrize("av", [
    {}, {"S": "a", "N": "1"}, {"Q": 1}, "x", None, {"M": [{"S": "a"}]},
    {"M": {"a": {"L": [{"NS": ["1", "x"]}]}}}, {"L": None}, {"N": "abc"},
])
def test_unmarshall_value_error_messages_unchanged(av):
    assert _outcome(unmarshall_value, av) == _outcome(_reference_unmarshall_value, av)
    assert _outcome(unmarshall_value, av)[0] == "raised"


# --- N values outside DynamoDB's number range -----------------------------


@pytest.mark.parametrize("n", [
    "1e100000000", "1e999999999", "-1E+126", "1E+126", "1E-131", "-9E-131",
    "1" + "0" * 126, "-1" + "0" * 126, "1" + "0" * 5000,
])
def test_out_of_range_magnitudes_raise(n):
    with pytest.raises(ValueError, match="outside DynamoDB's number range"):
        parse_number(n)


@pytest.mark.parametrize("n", ["NaN", "-NaN", "sNaN", "Infinity", "-Infinity", "inf"])
def test_non_finite_numbers_raise(n):
    with pytest.raises(ValueError, match="outside DynamoDB's number range"):
        parse_number(n)
    with pytest.raises(ValueError, match="outside DynamoDB's number range"):
        unmarshall_value({"NS": ["1", n]})


@pytest.mark.parametrize("n,text", [
    ("1E-130", "0." + "0" * 129 + "1"),
    ("-1E-130", "-0." + "0" * 129 + "1"),
    ("9.9999999999999999999999999999999999999E+125", "99999999999999999999999999999999999999" + "0" * 88),
    ("9" * 126, "9" * 126),
    ("-" + "9" * 126, "-" + "9" * 126),
    ("0E-999999999", "0"),
    ("-0.0", "0"),
])
def test_range_edges_parse(n, text):
    assert dumps_canonical(parse_number(n)) == text


def test_in_range_numbers_match_reference():
    """Inside the range the parse is the reference parse (zero aside,
    which is always the int 0)."""
    for n in ["7", "-7", "1.50", "1e1", "0.10000000000000000000000001",
              "123456789012345678901", " 42 ", "1_000", "12.5E-3"]:
        got, ref = parse_number(n), _reference_parse_number(n)
        assert got == ref and type(got) is type(ref)
    assert parse_number("0.000") == 0 and type(parse_number("0.000")) is int


@given(_numbers)
@settings(max_examples=300, deadline=None)
def test_generated_numbers_parse_like_reference(n):
    got, ref = parse_number(n), _reference_parse_number(n)
    assert got == ref
    assert _reference_dumps(got) == _reference_dumps(ref)


# --- the per-record split: only the parse can fail --------------------------


_json_values = st.recursive(
    st.one_of(st.none(), st.booleans(), st.integers(-(2**70), 2**70),
              st.floats(), _text),
    lambda kids: st.one_of(st.lists(kids, max_size=4),
                           st.dictionaries(_text, kids, max_size=4)),
    max_leaves=12,
)
# S/B/SS/BS payloads come back from unmarshall as they are on the wire,
# so they may hold any JSON value: documents, lists, NaN, mixed sets.
_payload_values = st.one_of(
    st.builds(lambda v: {"S": v}, _json_values),
    st.builds(lambda v: {"B": v}, _json_values),
    st.builds(lambda v: {"SS": v}, st.lists(_json_values, max_size=3)),
    st.builds(lambda v: {"BS": v}, st.lists(_json_values, max_size=3)),
)
_item_values = st.one_of(
    _attribute_values(malformed=True),
    _payload_values,
    st.builds(lambda av: {"M": {"x": {"L": [av]}}}, _payload_values),
)
_wire_images = st.one_of(
    st.none(),
    st.dictionaries(_text, _item_values, max_size=4).map(json.dumps),
    st.sampled_from(["{not json", "", "null", "3", "[1, 2]", '{"a": 1}',
                     '{"a": {"S": "x"}', '{"a": {"N": NaN}}']),
)


@given(_wire_images, _wire_images, _wire_images)
@settings(max_examples=400, deadline=None)
def test_parse_alone_decides_dead_letters(new_raw, old_raw, keys_raw):
    """``_parse_record`` raises exactly when ``_diff_record`` reports an
    error, with that error's text; on every parsed pair the diff and
    the canonical dumps run without raising."""
    out = _diff_record(new_raw, old_raw, keys_raw, "P#1", None)
    try:
        new_img, old_img, _, _ = _parse_record(new_raw, old_raw, keys_raw, "P#1", None)
    except Exception as exc:  # noqa: BLE001 - the error itself is compared
        assert out == (None,) * 7 + (f"{type(exc).__name__}: {exc}",)
        return
    assert out[7] is None
    for a, b in ((new_img, old_img), (old_img, new_img)):
        _, before, after = compare_images(a, b)
        for doc in (before, after, a, b):
            dumps_canonical(doc)


def _nested_s(depth: int, leaf) -> str:
    """An item whose S payload nests ``depth`` documents around ``leaf``."""
    return ('{"k": {"S": ' + '{"a": ' * depth + json.dumps(leaf) + "}" * depth
            + '}, "id": {"S": "x"}}')


def _nested_s_lists(depth: int, leaf) -> str:
    return '{"k": {"S": ' + "[" * depth + json.dumps(leaf) + "]" * depth + "}}"


def _nested_m(depth: int, leaf) -> str:
    return ('{"k": ' + '{"M": {"a": ' * depth + '{"L": [{"N": "%s"}]}' % leaf
            + "}}" * depth + "}")


@pytest.mark.parametrize("wire,leaves", [
    (_nested_s, ([1], [2])),
    (_nested_s_lists, (1, 2)),
    (_nested_m, ("1.5", "2.5")),
])
def test_parse_fails_first_at_the_recursion_limit(wire, leaves):
    """Around the deepest image that still parses, the diff and dumps
    never raise, and both mappers dead-letter the same records."""

    def parses(depth):
        try:
            _parse_record(wire(depth, leaves[0]), wire(depth, leaves[1]),
                          None, "P#1", None)
        except RecursionError:
            return False
        return True

    lo, hi = 1, 4 * sys.getrecursionlimit()
    while lo < hi:
        mid = (lo + hi + 1) // 2
        lo, hi = (mid, hi) if parses(mid) else (lo, mid - 1)
    depths = range(lo - 40, lo + 4)
    for d in depths:
        out = _diff_record(wire(d, leaves[0]), wire(d, leaves[1]), None, "P#1", None)
        assert (out[7] is None) == (d <= lo)

    pdf = pd.DataFrame({
        "event_id": [f"e{d}" for d in depths],
        "seq": list(depths), "ts": None, "operation": "MODIFY", "size_bytes": 10,
        "new_image": [wire(d, leaves[0]) for d in depths],
        "old_image": [wire(d, leaves[1]) for d in depths],
        "pk": "P#1", "sk": None,
    })
    events = pd.concat(_diff_batches(iter([pdf])))
    dead = pd.concat(_dead_letter_batches(iter([pdf])))
    # the mappers run a few frames deeper than this test: the limit
    # still falls inside ``depths``
    assert 0 < len(dead) < len(depths)
    assert set(events.event_id[events.error.notna()]) == set(dead.event_id)
