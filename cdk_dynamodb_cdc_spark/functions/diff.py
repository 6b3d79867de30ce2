"""Recursive structural diff — the engine's one genuinely custom operator.

Semantics match the reference's ``compareJSON``
(``/root/reference/lib/lambda/dynamo-stream-handler.ts:29-87``) exactly,
including its JavaScript quirks:

* Key-set partition into added / removed / common. Added and removed keys
  contribute a single dot-path each (``level + key``) and copy the whole
  subtree into ``after`` / ``before`` — no recursion into them.
* Common keys where BOTH sides are JS "plain objects" recurse with the
  dot-path prefix extended; if any descendant changed, the parent path is
  recorded too (``dynamo-stream-handler.ts:69``) and ``before``/``after``
  hold only the changed subtree. **``typeof null === "object"`` in JS**,
  so ``None`` participates in object recursion (``None`` vs ``{"a":1}``
  diffs like ``{}`` vs ``{"a":1}``; ``None`` vs ``None`` is a no-op).
* Common keys where both sides are arrays compare ATOMICALLY by
  serialized equality (``:71-76``) — element-wise paths are never emitted.
* Everything else compares with JS strict ``!==``: values of different
  types are always different (``1 !== "1"``, ``true !== 1``) EXCEPT that
  JS has a single number type, so int/float compare by numeric value.

One INTENTIONAL divergence: DynamoDB sets (SS/NS/BS). The reference's
``unmarshall`` yields JS ``Set`` objects, and ``Object.keys(Set)`` is
``[]``, so ``compareJSON`` recurses into them finding nothing — the
reference silently NEVER detects set-membership changes. This engine
canonicalizes sets to sorted lists (functions/dynamo.py) and compares
them atomically like other arrays, so membership changes ARE detected
(and pure reorderings are no-ops). The golden fixtures encode this
engine's behavior, not reference output.

Two implementations:
  1. :func:`compare_images` — pure Python on parsed JSON (dynamic lane),
     called per record by the one ``mapInPandas`` pass in
     ``operators/pipeline.py``.
  2. :func:`struct_diff_exprs` (in ``operators/typed_diff.py``) — generated
     Column expressions for a known StructType: fully JVM-side, codegen'd.
"""

from __future__ import annotations

import json
from decimal import Decimal
from typing import Any

from cdk_dynamodb_cdc_spark.functions.dynamo import dumps_canonical


def _is_js_object(v: Any) -> bool:
    # JS: typeof x === "object" && !Array.isArray(x); null is an object.
    return isinstance(v, dict) or v is None


_NUMBER_TYPES = (int, float, Decimal)


def _scalar_differs(a: Any, b: Any) -> bool:
    """JS strict inequality (``!==``) transplanted to unmarshalled Python.

    Numbers compare by numeric value (JS has one number type) — but at
    FULL precision when a Decimal is involved (Python compares
    int/float/Decimal exactly), a documented fidelity upgrade over the
    reference's float64: two 25-digit ``N`` values differing in the last
    digit are a change here, a silent no-op in JS."""
    a_bool, b_bool = isinstance(a, bool), isinstance(b, bool)
    if a_bool or b_bool:
        return not (a_bool and b_bool and a == b)
    if isinstance(a, _NUMBER_TYPES) and isinstance(b, _NUMBER_TYPES):
        return a != b  # exact mixed-type numeric comparison
    if type(a) is not type(b):
        return True
    return bool(a != b)


def compare_images(
    new_image: dict[str, Any] | None,
    old_image: dict[str, Any] | None,
    level: str = "",
) -> tuple[list[str], dict[str, Any], dict[str, Any]]:
    """Return ``(attributes_changed, before, after)``.

    ``before``/``after`` hold only the changed subtrees; path order matches
    the reference (added keys, removed keys, then common keys, each in the
    image's own key order — with parent paths preceding child paths).
    """
    changed: list[str] = []
    before: dict[str, Any] = {}
    after: dict[str, Any] = {}
    new_keys = list((new_image or {}).keys())
    old_keys = list((old_image or {}).keys())
    old_set, new_set = set(old_keys), set(new_keys)

    for key in new_keys:  # added
        if key not in old_set:
            after[key] = new_image[key]
            changed.append(f"{level}{key}")
    for key in old_keys:  # removed
        if key not in new_set:
            before[key] = old_image[key]
            changed.append(f"{level}{key}")
    for key in new_keys:  # common
        if key not in old_set:
            continue
        nv, ov = new_image[key], old_image[key]
        if _is_js_object(nv) and _is_js_object(ov):
            sub_changed, sub_before, sub_after = compare_images(
                nv, ov, level=f"{level}{key}."
            )
            if sub_changed:
                before[key] = sub_before
                after[key] = sub_after
                changed.append(f"{level}{key}")
                changed.extend(sub_changed)
        elif isinstance(nv, list) and isinstance(ov, list):
            if dumps_canonical(nv) != dumps_canonical(ov):
                before[key] = ov
                after[key] = nv
                changed.append(f"{level}{key}")
        elif _scalar_differs(nv, ov):
            before[key] = ov
            after[key] = nv
            changed.append(f"{level}{key}")

    return changed, before, after


def diff_json_strings(new_json: str | None, old_json: str | None) -> tuple:
    # parse_float=Decimal keeps the dynamic lane exact end-to-end: the
    # canonical JSON images carry arbitrary-precision numbers written by
    # functions/dynamo.py, and a float re-parse here would truncate them
    # right before the comparison that exists to detect their changes.
    new_image = (
        json.loads(new_json, parse_float=Decimal) if new_json is not None else None
    )
    old_image = (
        json.loads(old_json, parse_float=Decimal) if old_json is not None else None
    )
    changed, before, after = compare_images(new_image, old_image)
    return changed, dumps_canonical(before), dumps_canonical(after)
