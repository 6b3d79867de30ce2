"""Typed-lane CDC: generated Column expressions for declared schemas.

The dynamic lane (functions/diff.py + operators/pipeline.py) pays one
Arrow exchange and per-row Python for unmarshall + diff because the
item schema is unknown. When the user DECLARES a StructType, this
module generates the whole unmarshall -> diff path as pure Column
expressions — `from_json` + field comparisons, fully JVM-side and
whole-stage-codegen'd, with no Python in the plan.

That does not make it the faster lane today. Over the benchmark's
21-field items (perfbench/lanes.py:ITEM_SCHEMA) the optimized plan of
:func:`cdc_change_events_typed` holds 44 `from_json`: 2 in the output
projection and 42 in the pushed no-op `Filter`, where
`PushDownPredicates` inlines the let-bound parse once per field
comparison. The traced benchmark run (seed 3, 9000 records, 4-core
x86-64 VM) read `operators.typed_diff.events_s` 6.2 s against
`operators.pipeline.events_s` 0.6 s on backfill_dynamic, and 5.1 s
against 1.1 s on stream_trickle: the typed lane is 4-10x slower than
the dynamic lane at this width. ROADMAP direction B holds the
measurement and the plan (one parse per image) to fix it.

Semantics match the dynamic lane (functions/diff.py, which mirrors the
reference's `compareJSON`, `dynamo-stream-handler.ts:29-87`) with ONE
documented convention shift: a typed struct cannot distinguish "key
absent" from "key null", so NULL means ABSENT here — a field going
null -> non-null is an add, non-null -> null a remove. A corollary: a
wire value whose tag doesn't match the declared type (e.g. a field
declared array arriving as {"S": ...}) parses to null and therefore
reads as absent; the dynamic lane would instead report a scalar/array
type-flip change. Records outside the declared schema's domain belong
on the dynamic lane. Arrays compare
atomically, nested structs recurse with dot-paths and parent-path
propagation, path order is added / removed / changed-in-place like the
reference — but within each class the order is SCHEMA order, since a
typed struct erases the image's JSON key-insertion order the dynamic
lane preserves. Path SETS always agree between lanes.

Wire-format support: S, N (long / double / decimal targets), BOOL,
M (nested struct), L (typed array), B (base64 -> binary), and
SS / NS / BS via StructField metadata {"dynamo_type": "SS"|"NS"|"BS"}
— canonicalized with array_sort exactly like the dynamic lane's
sorted-list convention (BS sorts the base64 text, then decodes to
binary elements).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cdk_dynamodb_cdc_spark.operators.pipeline import (
    claim_checked,
    images_url,
    null_guards,
)
from cdk_dynamodb_cdc_spark.schemas import CLAIM_CHECK_THRESHOLD


def wire_schema_for(schema: T.StructType) -> T.StructType:
    """The AttributeValue wire StructType `from_json` needs so that a
    marshalled image parses losslessly for the declared target."""
    return T.StructType(
        [
            T.StructField(f.name, _wire_type(f), True)
            for f in schema.fields
        ]
    )


def _wire_type(field: T.StructField) -> T.StructType:
    dt = field.dataType
    set_tag = (field.metadata or {}).get("dynamo_type")
    if set_tag in ("SS", "NS", "BS"):
        if not isinstance(dt, T.ArrayType):
            raise TypeError(f"{field.name}: {set_tag} requires an ArrayType target")
        return T.StructType(
            [T.StructField(set_tag, T.ArrayType(T.StringType()), True)]
        )
    if isinstance(dt, T.StringType):
        return T.StructType([T.StructField("S", T.StringType(), True)])
    if isinstance(dt, (T.LongType, T.IntegerType, T.DoubleType, T.FloatType,
                       T.DecimalType)):
        return T.StructType([T.StructField("N", T.StringType(), True)])
    if isinstance(dt, T.BooleanType):
        return T.StructType([T.StructField("BOOL", T.BooleanType(), True)])
    if isinstance(dt, T.BinaryType):
        return T.StructType([T.StructField("B", T.StringType(), True)])
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField("M", wire_schema_for(dt), True)]
        )
    if isinstance(dt, T.ArrayType):
        elem = T.StructField("elem", dt.elementType)
        return T.StructType(
            [T.StructField("L", T.ArrayType(_wire_type(elem)), True)]
        )
    raise TypeError(f"unsupported typed-lane type for {field.name}: {dt}")


def _extract(wire_col: Column, field: T.StructField) -> Column:
    """wire node -> typed value Column."""
    dt = field.dataType
    set_tag = (field.metadata or {}).get("dynamo_type")
    if set_tag in ("SS", "NS", "BS"):
        # sets are unordered on the wire: canonicalize sorted, like the
        # dynamic lane (functions/dynamo.py)
        arr = F.array_sort(wire_col[set_tag])
        if set_tag == "NS":
            elem = dt.elementType.simpleString()
            arr = F.array_sort(
                F.transform(wire_col[set_tag], lambda x: x.cast(elem))
            )
        if set_tag == "BS":
            # sort the base64 TEXT first (the dynamic lane's canonical
            # order), then decode — byte order of decoded values can
            # differ from base64 lexicographic order
            arr = F.transform(arr, F.unbase64)
        return arr
    if isinstance(dt, T.StringType):
        return wire_col["S"]
    if isinstance(dt, (T.LongType, T.IntegerType, T.DoubleType, T.FloatType,
                       T.DecimalType)):
        return wire_col["N"].cast(dt.simpleString())
    if isinstance(dt, T.BooleanType):
        return wire_col["BOOL"]
    if isinstance(dt, T.BinaryType):
        return F.unbase64(wire_col["B"])
    if isinstance(dt, T.StructType):
        return _extract_struct(wire_col["M"], dt)
    if isinstance(dt, T.ArrayType):
        elem = T.StructField("elem", dt.elementType)
        return F.transform(wire_col["L"], lambda x: _extract(x, elem))
    raise TypeError(f"unsupported typed-lane type for {field.name}: {dt}")


def _extract_struct(wire_struct: Column, schema: T.StructType) -> Column:
    return F.when(
        wire_struct.isNotNull(),
        F.struct(
            *[
                _extract(wire_struct[f.name], f).alias(f.name)
                for f in schema.fields
            ]
        ),
    )


def unmarshall_typed(marshalled_json: Column, schema: T.StructType) -> Column:
    """Marshalled AttributeValue JSON string -> typed struct, entirely
    via `from_json` + projections (JVM; no Python).

    The parse is LET-BOUND with the higher-order-function idiom —
    ``transform(array(from_json(..)), w -> extract(w))`` — so the
    expression tree contains exactly ONE ``from_json`` however many
    fields the extractor references. Without the binding, every
    per-field null guard and value access embeds its own copy of the
    parse, and the optimizer multiplies them further when it inlines
    this expression into pushed-down predicates: the r14 throughput
    harness measured 14 full parses per row in the lane's optimized
    plan (6 in the diff projection, 8 in the pushed no-op filter) and
    the let-binding alone halved the lane's wall time (20.7 -> 10.7 s
    per 2M records; STREAM_BENCH_r14). ``transform``'s lambda body is
    interpreted rather than codegen'd, but the body is cheap struct
    assembly — the parse it de-duplicates is itself CodegenFallback,
    so nothing that previously codegen'd stops doing so."""
    wire = F.from_json(marshalled_json, wire_schema_for(schema))
    bound = F.transform(
        F.array(wire), lambda w: _extract_struct(w, schema)
    )
    return F.when(
        marshalled_json.isNotNull(), F.element_at(bound, 1)
    )


def _leaf_changed(old: Column, new: Column) -> Column:
    return ~old.eqNullSafe(new)


def struct_diff_exprs(
    old: Column, new: Column, schema: T.StructType, level: str = ""
) -> tuple[Column, Column, Column]:
    """(attributes_changed, before_struct, after_struct) for two typed
    structs. before/after contain only changed subtrees (unchanged
    fields are NULL, which to_json omits); path semantics mirror
    functions/diff.py: added & removed contribute one path each with
    the whole subtree copied, changed structs recurse with the parent
    path recorded before the children's.
    """
    added, removed, changed = [], [], []
    before_fields, after_fields = [], []

    for f in schema.fields:
        path = f"{level}{f.name}"
        o, n = old[f.name], new[f.name]
        is_added = o.isNull() & n.isNotNull()
        is_removed = o.isNotNull() & n.isNull()
        added.append(F.when(is_added, F.lit(path)))
        removed.append(F.when(is_removed, F.lit(path)))

        if isinstance(f.dataType, T.StructType):
            sub_changed, sub_before, sub_after = struct_diff_exprs(
                o, n, f.dataType, level=f"{path}."
            )
            both = o.isNotNull() & n.isNotNull()
            in_place = both & (F.size(sub_changed) > 0)
            changed.append(
                F.when(in_place, F.concat(F.array(F.lit(path)), sub_changed))
                .otherwise(F.array().cast("array<string>"))
            )
            before_fields.append(
                F.when(is_removed, o).when(in_place, sub_before).alias(f.name)
            )
            after_fields.append(
                F.when(is_added, n).when(in_place, sub_after).alias(f.name)
            )
        else:
            both = o.isNotNull() & n.isNotNull()
            in_place = both & _leaf_changed(o, n)
            changed.append(
                F.when(in_place, F.array(F.lit(path)))
                .otherwise(F.array().cast("array<string>"))
            )
            before_fields.append(
                F.when(is_removed | in_place, o).alias(f.name)
            )
            after_fields.append(
                F.when(is_added | in_place, n).alias(f.name)
            )

    paths = F.concat(
        F.filter(F.array(*added), lambda x: x.isNotNull()),
        F.filter(F.array(*removed), lambda x: x.isNotNull()),
        F.flatten(F.array(*changed)),
    )
    return (
        paths,
        F.struct(*before_fields),
        F.struct(*after_fields),
    )


def cdc_change_events_typed(
    records: DataFrame,
    schema: T.StructType,
    *,
    claim_check_base: str | None = None,
    claim_check_threshold: int = CLAIM_CHECK_THRESHOLD,
) -> DataFrame:
    """The typed-lane twin of operators/pipeline.py:cdc_change_events —
    same input (CDC_RECORD_SCHEMA) and output columns, zero Python.

    `.explain()` shows one WholeStageCodegen span from scan to output:
    no exchange, no BatchEvalPython; the module docstring gives its
    measured cost against the dynamic lane."""
    src = null_guards(records).withColumn(
        "claim", claim_checked(claim_check_threshold))
    # Parse each image in its own projection and reference the parsed
    # structs as column refs below. The split alone is NOT enough
    # protection: the optimizer inlines these aliases when it merges
    # projections or pushes the no-op predicate down, so the real
    # parse-once guarantee lives INSIDE unmarshall_typed's HOF
    # let-binding — wherever the alias gets re-inlined, each inlined
    # copy still contains exactly one from_json.
    parsed = src.select(
        "*",
        unmarshall_typed(F.col("old_image"), schema).alias("__old_t"),
        unmarshall_typed(F.col("new_image"), schema).alias("__new_t"),
    )
    # a NULL image behaves like an empty document: field access on a
    # null struct yields null, so every new field classifies as added
    # (the JS null-as-object quirk, functions/diff.py)
    paths, before, after = struct_diff_exprs(
        F.col("__old_t"), F.col("__new_t"), schema
    )
    base = parsed.select(
        "*",
        paths.alias("__paths"),
        F.to_json(before).alias("__before"),
        F.to_json(after).alias("__after"),
    )
    # No-op test: empty diff  <=>  every top-level field null-safe
    # equal (field access on a null struct is null, so a missing image
    # behaves as an empty document, exactly like the path logic).
    # Deliberately NOT size(__paths) == 0: PushDownPredicates inlines
    # alias definitions into pushed predicates unconditionally, and
    # inlining the full diff tree re-evaluates the (let-bound) parse
    # once per field comparison. This predicate inlines as one parse
    # per image per field — the cheapest pushable form.
    fields_equal = [
        F.col("__old_t")[f.name].eqNullSafe(F.col("__new_t")[f.name])
        for f in schema.fields
    ]
    all_equal = fields_equal[0]
    for fe in fields_equal[1:]:
        all_equal = all_equal & fe
    noop = (F.col("operation") == "MODIFY") & all_equal
    ok = base.filter(~noop)
    small = ~F.col("claim")
    return ok.select(
        "event_id",
        "seq",
        "ts",
        "operation",
        "pk",
        "sk",
        F.col("__paths").alias("attributes_changed"),
        F.col("__before").alias("before"),
        F.col("__after").alias("after"),
        F.when(small, F.to_json("__new_t")).alias("new_image"),
        F.when(small & (F.col("operation") == "REMOVE"), F.to_json("__old_t"))
        .alias("old_image"),
        images_url(claim_check_base).alias("images_url"),
    )
