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


# -- the kernel decodes an old attribute only where it changed -----------

_NUMBERS = ["1", "1.0", "1E2", "100", "-0", "0.50", "0.5", "2.5"]
_RESPELL = {"1": "1.0", "1.0": "1", "1E2": "100", "100": "1E2", "0.50": "0.5"}
_names = st.sampled_from(["a", "b", "c", "d"])
_av = st.recursive(
    st.one_of(
        st.builds(lambda s: {"S": s}, st.sampled_from(["x", "y", "", "é", "a:1,"])),
        st.builds(lambda n: {"N": n}, st.sampled_from(_NUMBERS)),
        st.builds(lambda b: {"BOOL": b}, st.booleans()),
        st.just({"NULL": True}),
        st.builds(lambda xs: {"SS": xs},
                  st.lists(st.sampled_from("pqr"), min_size=1, max_size=3, unique=True)),
        st.builds(lambda xs: {"NS": xs},
                  st.lists(st.sampled_from(_NUMBERS), min_size=1, max_size=3, unique=True)),
    ),
    lambda kids: st.builds(lambda m: {"M": m}, st.dictionaries(_names, kids, max_size=3))
    | st.builds(lambda xs: {"L": xs}, st.lists(kids, max_size=3)),
    max_leaves=8,
)
# payloads the strict decoder rejects; several equal a valid one under ==
_malformed = st.sampled_from([
    {"BOOL": 1}, {"BOOL": 0.0}, {"NULL": 1}, {"NULL": False}, {"N": "abc"},
    {"S": 5}, {"SS": "abc"}, {"X": "1"}, {"M": {"a": {"BOOL": 1}}}, 5, None, [1],
])


@st.composite
def _variant(draw, av):
    """``av`` as an old image may carry it: the same wire value, its
    numbers respelled or set members reordered, a change nested in it,
    another value, or a malformed one."""
    kind = draw(st.sampled_from(["same", "respell", "nested", "other", "malformed"]))
    if kind == "other":
        return draw(_av)
    if kind == "malformed":
        return draw(_malformed)
    if not isinstance(av, dict) or len(av) != 1:  # a malformed new attribute
        return json.loads(json.dumps(av))
    ((tag, payload),) = av.items()
    if kind == "respell" and tag == "N":
        return {"N": _RESPELL.get(payload, payload)}
    if kind == "respell" and tag in ("SS", "NS"):
        return {tag: [_RESPELL.get(v, v) for v in reversed(payload)]}
    if kind == "nested" and tag == "M":
        return {"M": {k: draw(_variant(v)) for k, v in payload.items()}}
    if kind == "nested" and tag == "L":
        return {"L": [draw(_variant(v)) for v in payload]}
    return json.loads(json.dumps(av))  # equal, not the same object


@st.composite
def _records(draw):
    new = draw(st.dictionaries(_names, _av, max_size=4))
    if draw(st.integers(0, 9)) == 0:
        new[draw(_names)] = draw(_malformed)
    old = {k: draw(_variant(v)) for k, v in new.items() if draw(st.integers(0, 4))}
    old.update(draw(st.dictionaries(st.sampled_from(["e", "f"]), _av | _malformed,
                                    max_size=2)))
    old = dict(draw(st.permutations(list(old.items()))))
    operation = draw(st.sampled_from(["MODIFY", "MODIFY", "INSERT", "REMOVE"]))
    new_raw = None if operation == "REMOVE" else json.dumps(new)
    old_raw = draw(st.sampled_from([
        json.dumps(old), json.dumps(old, indent=1), "null", "[1]", '"x"', "7",
        "\ufeff{}", None,
    ]))
    return new_raw, old_raw, operation, draw(st.booleans())


@given(_records())
@settings(max_examples=500, deadline=None)
def test_kernel_matches_the_full_decode_of_both_images(record):
    """``_diff_record`` decodes an old attribute only where its wire value
    differs from the new image's; its output, error text included, is
    that of decoding both images whole."""
    from unittest import mock

    from cdk_dynamodb_cdc_spark.operators import pipeline

    new_raw, old_raw, operation, claim = record
    args = (new_raw, old_raw, None, "pk", "sk", operation, claim)
    got = pipeline._diff_record(*args)
    with mock.patch.object(
        pipeline, "_unmarshall_old", lambda raw, *_: unmarshall(json.loads(raw))
    ):
        want = pipeline._diff_record(*args)
    assert got == want
