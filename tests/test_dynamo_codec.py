"""Unit tests for the AttributeValue codec (no JVM needed)."""

import json

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from cdk_dynamodb_cdc_spark.functions.dynamo import (
    canonical_decimal,
    dumps_canonical,
    parse_number,
    unmarshall,
    unmarshall_json,
    unmarshall_value,
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
    from decimal import Decimal

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


# -- strict payload types: a mistyped payload is a dead letter, not a
# -- silently wrong value ------------------------------------------------

@pytest.mark.parametrize(
    "av",
    [
        {"BOOL": "false"},  # was True
        {"SS": "abc"},  # was ["a", "b", "c"]
        {"S": 5},  # was the number 5
        {"NULL": False},  # was None
        {"B": 3},  # was the number 3
        {"N": 5},
        {"M": [["a", {"S": "x"}]]},
        {"L": {"a": {"S": "x"}}},
        {"NS": [1, 2]},
        {"BS": "YmFy"},
    ],
)
def test_mistyped_payload_raises(av):
    with pytest.raises(ValueError):
        unmarshall_value(av)


def test_mistyped_payload_dead_letters_whole_item():
    with pytest.raises(ValueError):
        unmarshall_json('{"ok":{"S":"x"},"deep":{"M":{"flag":{"BOOL":"false"}}}}')


@pytest.mark.parametrize(
    "text",
    [
        "NaN", "Infinity", "-Infinity",  # not JSON numbers
        "1_000", "٣",  # int() would read 1000 and 3
        "1e400", "1E-131", "1e99999999999999999999",  # outside 1E-130..9.99E+125
        "1" * 39, "1." + "1" * 38,  # more than 38 significant digits
        " 5", "+5", ".5", "1.", "0x10", "",
    ],
)
def test_number_outside_dynamodb_domain_raises(text):
    with pytest.raises(ValueError):
        parse_number(text)
    with pytest.raises(ValueError):
        unmarshall_value({"NS": ["1", text]})


def test_number_domain_edges_accepted():
    from decimal import Decimal

    assert parse_number("1E-130") == Decimal("1E-130")
    top = "9." + "9" * 37 + "E+125"
    assert parse_number(top) == Decimal(top)
    assert parse_number("1" * 38) == int("1" * 38)
    assert parse_number("1" + "0" * 125) == 10**125  # one significant digit
    assert parse_number("-0.0") == 0 and parse_number("0e-999999") == 0
    assert parse_number("1e5") == 100000
    # the existing 25-significant-digit round trip
    v = parse_number("1.234567890123456789012345")
    assert dumps_canonical(v) == "1.234567890123456789012345"


# -- the serializer is byte-identical to json.dumps ----------------------

_text = st.text(st.characters(blacklist_categories=()))  # any code point
_json_values = st.recursive(
    st.none() | st.booleans() | st.integers(-(10**40), 10**40) | st.floats() | _text,
    lambda kids: st.lists(kids, max_size=5) | st.dictionaries(_text, kids, max_size=5),
    max_leaves=40,
)


@given(_json_values)
@settings(max_examples=300, deadline=None)
def test_dumps_canonical_matches_json_dumps(v):
    assert dumps_canonical(v) == json.dumps(v, sort_keys=True, separators=(",", ":"))


@given(st.decimals(allow_nan=False, allow_infinity=False))
@settings(max_examples=300, deadline=None)
def test_dumps_canonical_decimals(d):
    assert dumps_canonical(d) == canonical_decimal(d)
    assert dumps_canonical({"k": [d]}) == '{"k":[' + canonical_decimal(d) + "]}"
