"""Property + golden tests for the structural diff (SURVEY.md §5.1).

Semantics under test mirror ``dynamo-stream-handler.ts:29-87`` exactly:
dot-paths with parent propagation, atomic arrays, JS strict `!==`,
`typeof null === "object"` recursion, key-set asymmetry.
"""

import json

from hypothesis import given, settings
from hypothesis import strategies as st

from cdk_dynamodb_cdc_spark.functions.diff import compare_images, diff_json_strings

scalars = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(-(2**31), 2**31),
    st.floats(allow_nan=False, allow_infinity=False),
    st.text(max_size=8),
)
json_docs = st.recursive(
    scalars,
    lambda kids: st.one_of(
        st.lists(kids, max_size=4),
        st.dictionaries(st.text(max_size=6), kids, max_size=4),
    ),
    max_leaves=12,
)
images = st.dictionaries(st.text(max_size=6), json_docs, max_size=5)


@given(images)
@settings(max_examples=200)
def test_diff_self_is_empty(img):
    changed, before, after = compare_images(img, img)
    assert changed == [] and before == {} and after == {}


@given(images)
@settings(max_examples=200)
def test_insert_lists_top_level_keys(img):
    changed, before, after = compare_images(img, None)
    assert sorted(changed) == sorted(img.keys())
    assert before == {} and after == img


@given(images)
@settings(max_examples=200)
def test_remove_is_mirror_of_insert(img):
    changed, before, after = compare_images(None, img)
    assert sorted(changed) == sorted(img.keys())
    assert after == {} and before == img


@given(images, images)
@settings(max_examples=200)
def test_symmetry_under_swap(a, b):
    c1, b1, a1 = compare_images(a, b)
    c2, b2, a2 = compare_images(b, a)
    assert sorted(c1) == sorted(c2)
    assert b1 == a2 and a1 == b2


def test_scalar_change():
    changed, before, after = compare_images({"n": 2.5, "s": "x"}, {"n": 1.5, "s": "x"})
    assert changed == ["n"]
    assert before == {"n": 1.5} and after == {"n": 2.5}


def test_nested_dot_paths_and_parent_propagation():
    old = {"addr": {"city": "nyc", "zip": "10001"}, "x": 1}
    new = {"addr": {"city": "sf", "zip": "10001"}, "x": 1}
    changed, before, after = compare_images(new, old)
    assert changed == ["addr", "addr.city"]  # parent precedes child
    assert before == {"addr": {"city": "nyc"}}
    assert after == {"addr": {"city": "sf"}}


def test_deep_nesting_paths():
    old = {"a": {"b": {"c": 1}}}
    new = {"a": {"b": {"c": 2}}}
    changed, _, _ = compare_images(new, old)
    assert changed == ["a", "a.b", "a.b.c"]


def test_arrays_atomic():
    changed, before, after = compare_images({"t": [1, {"q": 2}]}, {"t": [1, {"q": 3}]})
    assert changed == ["t"]  # no t.1.q path — arrays compare whole
    assert before == {"t": [1, {"q": 3}]} and after == {"t": [1, {"q": 2}]}


def test_added_key_lists_only_top_path():
    changed, _, after = compare_images({"new": {"deep": {"x": 1}}}, {})
    assert changed == ["new"]
    assert after == {"new": {"deep": {"x": 1}}}


def test_js_strict_inequality_quirks():
    # bool vs number differ (true !== 1)
    assert compare_images({"v": True}, {"v": 1})[0] == ["v"]
    # int vs float equal when numerically equal (single JS number type)
    assert compare_images({"v": 1}, {"v": 1.0})[0] == []
    # string vs number differ
    assert compare_images({"v": "1"}, {"v": 1})[0] == ["v"]


def test_null_is_an_object():
    # typeof null === "object": null vs map recurses like {} vs map
    changed, before, after = compare_images({"m": None}, {"m": {"a": 1}})
    assert changed == ["m", "m.a"]
    assert before == {"m": {"a": 1}} and after == {"m": {}}
    # null vs null is a no-op
    assert compare_images({"m": None}, {"m": None})[0] == []
    # null vs empty map is a no-op (both have no keys)
    assert compare_images({"m": None}, {"m": {}})[0] == []
    # null vs array falls to the scalar branch -> changed
    assert compare_images({"m": None}, {"m": [1]})[0] == ["m"]


def test_type_flip_map_to_scalar():
    changed, before, after = compare_images({"v": "s"}, {"v": {"a": 1}})
    assert changed == ["v"]
    assert before == {"v": {"a": 1}} and after == {"v": "s"}


def test_json_string_entrypoint():
    changed, before, after = diff_json_strings('{"a":1}', '{"a":2}')
    assert changed == ["a"]
    assert json.loads(before) == {"a": 2} and json.loads(after) == {"a": 1}
    changed, _, after = diff_json_strings('{"a":1}', None)
    assert changed == ["a"] and json.loads(after) == {"a": 1}


def test_decimal_precision_detected():
    """25-significant-digit N values differing in the last digit are a
    CHANGE (exact Decimal comparison) — float64 would call them equal.
    Documented fidelity upgrade over the reference's JS numbers."""
    new = '{"v":1.000000000000000000000001}'
    old = '{"v":1.000000000000000000000002}'
    assert float(1.000000000000000000000001) == float(1.000000000000000000000002)
    changed, before, after = diff_json_strings(new, old)
    assert changed == ["v"]
    # before/after round-trip the exact digits, no float mangling
    assert before == old and after == new
    # and equal high-precision values are a no-op
    assert diff_json_strings(new, new)[0] == []
    # mixed int/Decimal numeric equality: 1 vs 1.0 still a no-op
    assert diff_json_strings('{"v":1}', '{"v":1.0}')[0] == []


@given(
    st.decimals(
        allow_nan=False,
        allow_infinity=False,
        min_value=-(10**25),
        max_value=10**25,
        places=20,
    )
)
@settings(max_examples=200)
def test_decimal_marshal_unmarshall_diff_roundtrip(d):
    """Property (VERDICT r2 #6): a 25-digit decimal N round-trips
    bit-exactly through marshal -> unmarshall -> diff. Values past
    DynamoDB's 38 significant digits are refused instead."""
    from decimal import Decimal

    import pytest

    from cdk_dynamodb_cdc_spark.functions.dynamo import unmarshall_json

    wire = json.dumps({"v": {"N": str(d)}})
    if len("".join(map(str, d.as_tuple().digits)).strip("0")) > 38:
        with pytest.raises(ValueError):
            unmarshall_json(wire)
        return
    plain = unmarshall_json(wire)
    out = json.loads(plain, parse_float=Decimal)
    assert out["v"] == d  # exact numeric equality, int when integral
    assert diff_json_strings(plain, plain)[0] == []
