"""Mapping compiler: TableMapping → Spark expression DAG → records DataFrame.

This is the Spark-first re-expression of the reference's per-row interpreter
(``lib/ndr_import/mapper.rb#mapped_line`` + ``lib/ndr_import/table.rb#transform``).
Instead of interpreting the YAML per row, we compile it **once** on the driver
into pure Catalyst expressions:

* per-cell ops (replace → format/clean/map/match/daysafter → strip) become
  `regexp_replace` / `try_to_date` / map-literal / `trim` chains;
* the mapper's runtime slot algebra (unshift / priority / order / zip_order,
  mapper.rb:143-195) is *statically simulated* at compile time — unprioritised
  mappings in reverse declaration order, then prioritised slots ascending —
  so cross-population resolves to a single `coalesce`;
* join fields become `concat_ws` (compact) or a sliced `array_join`
  (non-compact, trailing-unassigned slots dropped, mapper.rb:181-185);
* zip fields become a `transform`-based array transpose (mapper.rb:186-188);
* klass masking (table.rb:143-191) becomes `explode(array(struct(...)))` —
  one narrow pass, no shuffle, Catalyst prunes unused klass branches.

Input contract (from `ndr_import_spark.sources`): a DataFrame with
``source_file: string``, ``row_index: long`` (0-based per file, in file order)
and ``cells: array<string>`` (or ``cells_map: map<string,string>`` for
hash-shaped rows such as AcroForm/JSONL).

Output: records DataFrame
``(klass string, fields map<string,string>, rawtext map<string,string>,
row_index long, source_file string, _errors array<string>)``.
Dates are ISO-8601 strings inside ``fields``; zip fields are JSON-encoded
arrays-of-arrays. ``typed_schema()`` reports per-field Spark types so callers
can re-type with :func:`records_wide`.

Scale notes (100 TB): everything here is a narrow map — no shuffle, no UDF,
single `select` + `explode`; whole-stage codegen applies end-to-end. Strict
validation (`_errors`) is carried as a column so errors can be quarantined
with a filter instead of a driver-side collect.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field as dc_field
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ndr_import_spark.functions.cleaning import clean
from ndr_import_spark.functions.dates import daysafter, try_to_date
from ndr_import_spark.functions.text import blank, presence, strip_default
from ndr_import_spark.plans import standard_mappings
from ndr_import_spark.plans.model import (
    ColumnMapping,
    FieldMapping,
    MappingError,
    TableMapping,
)

CellFn = Callable[[ColumnMapping, int], Column]


# --------------------------------------------------------------------------
# per-value op compilation (mapper.rb#mapped_value)
# --------------------------------------------------------------------------

def _apply_replaces(value: Column, fm: FieldMapping) -> Column:
    """`replace:` runs before every other op (mapper.rb:48-66)."""
    for replaces in fm.replaces():
        for pattern, replacement in replaces.items():
            value = F.regexp_replace(value, str(pattern), str(replacement))
    return value


def _mapped_value(original: Column, fm: FieldMapping) -> Column:
    """One field-mapping's value op; returns a string-typed Column.

    Branch order is significant and mirrors mapper.rb:204-233:
    format > clean > map > match > daysafter > default-strip.
    """
    if fm.format is not None:
        return try_to_date(original, fm.format).cast("string")
    if fm.clean is not None:
        return clean(original, fm.clean)
    if fm.map is not None:
        # Hash#fetch(value, value) parity (mapper.rb:219): a key mapped to
        # null yields nil (the field is then blank-dropped), NOT the string
        # 'None' and NOT fall-through — so compile a when-chain rather than
        # a map literal (map lookups can't distinguish null-value from
        # key-absent).
        chain = None
        for k, v in fm.map.items():
            val = F.lit(None).cast("string") if v is None else F.lit(str(v))
            cond = original == F.lit(str(k))
            chain = F.when(cond, val) if chain is None else chain.when(cond, val)
        return chain.otherwise(original) if chain is not None else original
    if fm.match is not None:
        extracted = F.regexp_extract(original, fm.match, 1)
        return F.when(original.rlike(fm.match), F.trim(extracted))
    if fm.daysafter is not None:
        return daysafter(original, fm.daysafter)
    return strip_default(original)


def _escape_split_char(split_char: str) -> str:
    """Ruby String#split takes a literal string; Spark `split` takes a Java
    regex — quote the literal."""
    return re.escape(split_char)


# --------------------------------------------------------------------------
# field accumulation (compile-time simulation of mapper.rb:143-195)
# --------------------------------------------------------------------------

@dataclass
class _FieldAcc:
    unshifts: list[Column] = dc_field(default_factory=list)
    priorities: dict[int, Column] = dc_field(default_factory=dict)
    # join slots: order-1 → (value, mapping_declares_join)
    order_slots: dict[int, tuple[Column, bool]] = dc_field(default_factory=dict)
    join_char: str | None = None
    has_join: bool = False
    compact: bool = True
    zip_slots: dict[int, Column] = dc_field(default_factory=dict)
    split_char: str | None = None
    date_typed: bool = False


def mapped_line_exprs(
    columns: list[ColumnMapping],
    cell_for: CellFn,
) -> tuple[dict[str, tuple[Column, bool]], list[tuple[str, Column]], list[Column], dict[str, str]]:
    """Compile one masked column list to expressions.

    Returns ``(fields, rawtext_entries, error_exprs, types)`` where ``fields``
    maps field name → (expr, always_present) and ``rawtext_entries`` is an
    ordered list of (rawtext_name, expr).
    """
    accs: dict[str, _FieldAcc] = {}
    field_order: list[str] = []
    rawtext_entries: list[tuple[str, Column]] = []
    errors: list[Column] = []
    types: dict[str, str] = {}

    for idx, col_mapping in enumerate(columns):
        if col_mapping.do_not_capture:
            continue
        cm = standard_mappings.resolve(col_mapping)

        raw_value = cell_for(cm, idx)

        # decode chain (mapper.rb:111-114): base64 is pure-Column; word_doc
        # needs the binary-extraction UDF (sources.word) and is applied there.
        for encoding in cm.decode or []:
            if encoding == "base64":
                raw_value = F.unbase64(raw_value).cast("string")
            elif encoding == "word_doc":
                from ndr_import_spark.sources.word import word_doc_text_column
                raw_value = word_doc_text_column(raw_value)
            else:
                raise MappingError(f"Cannot decode: {encoding}")

        rawtext_name = cm.rawtext_column_name()
        if rawtext_name is not None:
            rawtext_entries.append((rawtext_name, raw_value))

        if cm.map_columname_to:
            colname = cm.column if isinstance(cm.column, str) else str(cm.column)
            target = cm.map_columname_to
            acc = accs.setdefault(target, _FieldAcc())
            if target not in field_order:
                field_order.append(target)
            # data[field][:values] = [column] (mapper.rb:125-129)
            acc.unshifts.append(F.lit(colname))
            rawtext_entries.append((target, F.lit(colname)))

        for fm in cm.mappings:
            if fm.field is None:
                continue
            original = _apply_replaces(raw_value, fm)
            value = _mapped_value(original, fm)

            if fm.validates and fm.validates.get("presence"):
                errors.append(
                    F.when(blank(value), F.lit(f"{fm.field} can't be blank"))
                )

            acc = accs.setdefault(fm.field, _FieldAcc())
            if fm.field not in field_order:
                field_order.append(fm.field)
            if fm.format is not None:
                acc.date_typed = True

            if fm.order is not None:
                acc.has_join = True
                if acc.join_char is None and fm.join is not None:
                    acc.join_char = fm.join
                if fm.compact is not None:
                    acc.compact = fm.compact
                acc.order_slots[fm.order - 1] = (value, fm.join is not None)
            elif fm.priority is not None:
                acc.priorities[fm.priority] = value
            elif fm.zip_order is not None and (acc.split_char or fm.split_char):
                if acc.split_char is None:
                    acc.split_char = fm.split_char
                acc.zip_slots[fm.zip_order - 1] = value
            else:
                acc.unshifts.append(value)

    fields: dict[str, tuple[Column, bool]] = {}
    for name in field_order:
        acc = accs[name]
        if acc.has_join:
            fields[name] = (_resolve_join(acc), True)
            types[name] = "string"
        elif acc.zip_slots:
            fields[name] = (_resolve_zip(acc), False)
            types[name] = "array"
        else:
            # detect-first-present: latest unshift wins, then priorities
            # ascending (see module docstring for the slot-algebra proof).
            candidates = [presence(c) for c in reversed(acc.unshifts)]
            candidates += [presence(acc.priorities[p]) for p in sorted(acc.priorities)]
            fields[name] = (F.coalesce(*candidates) if candidates else F.lit(None).cast("string"), False)
            types[name] = "date" if acc.date_typed else "string"

    return fields, rawtext_entries, errors, types


def _resolve_join(acc: _FieldAcc) -> Column:
    """Join-field resolution (mapper.rb:181-185).

    compact (default): blanks→nil dropped, remaining joined — `concat_ws`
    skips NULLs natively. Non-compact: nils kept as empty segments, but
    *trailing unassigned* slots (blank value on a mapping without its own
    `join` key never accumulates) must not produce trailing separators.
    """
    n = max(acc.order_slots) + 1 if acc.order_slots else 0
    join_char = acc.join_char or ""
    vals = [
        presence(acc.order_slots[i][0]) if i in acc.order_slots else F.lit(None).cast("string")
        for i in range(n)
    ]
    if acc.compact:
        return F.concat_ws(join_char, *vals)
    assigned = [
        (F.lit(True) if acc.order_slots[i][1] else presence(acc.order_slots[i][0]).isNotNull())
        if i in acc.order_slots
        else F.lit(False)
        for i in range(n)
    ]
    arr_vals = F.array(*vals)
    arr_assigned = F.array(*assigned)
    # last assigned slot via position of first True in the reversed flags
    pos = F.array_position(F.reverse(arr_assigned), F.lit(True))  # 1-based, 0 if none
    length = F.when(pos > 0, F.lit(n) - pos + 1).otherwise(F.lit(0))
    return F.array_join(F.slice(arr_vals, 1, length), join_char, "")


def _resolve_zip(acc: _FieldAcc) -> Column:
    """zip_order/split_char transpose (mapper.rb:186-188,198-202).

    values.first.zip(*rest): split each slot by split_char, then element-wise
    zip — rows beyond the first array's length are dropped, missing elements
    become NULL. Result is JSON-encoded array-of-arrays (fields are a
    map<string,string>; consumers parse or use `records_wide`).
    """
    pat = _escape_split_char(acc.split_char or ",")
    slots = [acc.zip_slots[i] for i in sorted(acc.zip_slots)]
    splits = [F.split(s, pat) for s in slots]
    first, rest = splits[0], splits[1:]
    zipped = F.transform(
        first,
        lambda x, i: F.array(x, *[F.get(r, i) for r in rest]),
    )
    return F.to_json(zipped)


# --------------------------------------------------------------------------
# table-level compilation (table.rb#transform / #transform_line)
# --------------------------------------------------------------------------

def _map_from_entries(entries: list[tuple[str, Column]], keep_null: bool = False) -> Column:
    """Build map<string,string> from (name, expr); later duplicate keys win
    (Ruby hash assignment semantics)."""
    if not entries:
        return F.map_from_arrays(F.array().cast("array<string>"), F.array().cast("array<string>"))
    dedup: dict[str, Column] = {}
    for name, expr in entries:
        dedup[name] = expr  # last wins
    keys = F.array(*[F.lit(k) for k in dedup])
    values = F.array(*[v.cast("string") for v in dedup.values()])
    return F.map_from_arrays(keys, values)


def _fields_map(
    fields: dict[str, tuple[Column, bool]],
    identifier: Column | None,
) -> Column:
    entries = []
    for name, (expr, always) in fields.items():
        entries.append((name, F.coalesce(expr, F.lit("")) if always else expr))
    if identifier is not None:
        entries.append(("row_identifier", identifier.cast("string")))
    m = _map_from_entries(entries)
    # absent-when-nil parity: Ruby only stores resolved fields; drop NULLs
    return F.map_filter(m, lambda k, v: v.isNotNull())


def default_cell_fn() -> CellFn:
    def fn(cm: ColumnMapping, idx: int) -> Column:
        # F.get, not [idx]: rows shorter than the mapping yield nil cells in
        # the reference (mapper.rb:94-99); GetArrayItem THROWS under Spark
        # 4's default ANSI mode
        return F.get(F.col("cells"), F.lit(idx))
    return fn


def hash_cell_fn() -> CellFn:
    """Hash-shaped rows (AcroForm, JSONL): cells fetched by column name —
    order-free, mirroring pdf_form/table.rb:29-45."""
    def fn(cm: ColumnMapping, idx: int) -> Column:
        name = cm.column if isinstance(cm.column, str) else None
        return F.element_at(F.col("cells_map"), F.lit(name))
    return fn


def compile_records(
    mapping: TableMapping,
    df: DataFrame,
    cell_for: CellFn | None = None,
    strict: bool = True,
) -> DataFrame:
    """Compile the klass-masked mapping over a cells DataFrame → records.

    One `select` builds the per-klass record array, the next explodes it;
    no shuffle. The array sits in a projection of its own because
    `GenerateExec` evaluates its generator's expression tree row by row in
    interpreted mode, while a projection compiles it (with common
    subexpressions shared). `strict` surfaces `_errors`
    (presence validation, column-count guard) for the caller's
    collect-or-quarantine policy (Engine.run raises on first error in parity
    mode; at scale, filter them to an error sink instead).
    """
    cell_fn = cell_for or default_cell_fn()

    identifier: Column | None
    if mapping.row_identifier == "index":
        identifier = F.col("row_index")
    elif mapping.row_identifier == "uuid":
        identifier = F.expr("uuid()")
    else:
        identifier = None

    record_structs = []
    for klass, masked_columns in mapping.masked_mappings().items():
        fields, rawtext, errors, _types = mapped_line_exprs(masked_columns, cell_fn)
        err_col = (
            F.array_compact(F.array(*errors)) if errors else F.array().cast("array<string>")
        )
        record_structs.append(
            F.struct(
                F.lit(klass).alias("klass"),
                _fields_map(fields, identifier).alias("fields"),
                _map_from_entries(rawtext).alias("rawtext"),
                err_col.alias("_errors"),
            )
        )

    n_cols = len(mapping.columns)
    # explode_outer: for `explode` over a column Spark infers a
    # `size(_records) > 0` filter and pushes it below the source's parse,
    # inlining the whole mapping there. The array holds one struct per
    # klass, so the outer form yields the same rows; with no klass at all
    # the plain form keeps the result empty.
    explode = F.explode_outer if record_structs else F.explode
    out = df.select(
        F.col("source_file"),
        F.col("row_index"),
        F.array(*record_structs).alias("_records"),
        *( [
            F.when(
                F.size(F.col("cells")) > n_cols,
                F.concat(
                    F.lit(f"Line has too many columns (expected {n_cols} but got "),
                    F.size(F.col("cells")).cast("string"),
                    F.lit(")"),
                ),
            ).alias("_width_error")
        ] if strict and "cells" in df.columns else [F.lit(None).cast("string").alias("_width_error")] ),
    ).select(
        F.col("source_file"),
        F.col("row_index"),
        explode(F.col("_records")).alias("record"),
        F.col("_width_error"),
    ).select(
        F.col("record.klass").alias("klass"),
        F.col("record.fields").alias("fields"),
        F.col("record.rawtext").alias("rawtext"),
        F.col("row_index"),
        F.col("source_file"),
        F.when(
            F.col("_width_error").isNotNull(),
            F.concat(F.array(F.col("_width_error")), F.col("record._errors")),
        ).otherwise(F.col("record._errors")).alias("_errors"),
    )

    # skip-record filter (table.rb:107): fields[:skip] == 'true' suppressed
    out = out.filter(
        F.element_at(F.col("fields"), F.lit("skip")).isNull()
        | (F.element_at(F.col("fields"), F.lit("skip")) != F.lit("true"))
    )
    return out


def typed_schema(mapping: TableMapping) -> dict[str, dict[str, str]]:
    """klass → {field → spark type} for `records_wide` re-typing."""
    out: dict[str, dict[str, str]] = {}
    for klass, masked_columns in mapping.masked_mappings().items():
        _fields, _raw, _err, types = mapped_line_exprs(
            masked_columns, lambda cm, i: F.lit(None).cast("string")
        )
        out[klass] = types
    return out


def records_wide(records: DataFrame, mapping: TableMapping, klass: str) -> DataFrame:
    """Pivot one klass's records to typed columns (dates as DateType)."""
    types = typed_schema(mapping).get(klass, {})
    cols = [F.col("row_index"), F.col("source_file")]
    for name, typ in types.items():
        c = F.element_at(F.col("fields"), F.lit(name))
        if typ == "date":
            c = c.cast("date")
        elif typ == "array":
            c = F.from_json(c, "array<array<string>>")
        cols.append(c.alias(name))
    return records.filter(F.col("klass") == klass).select(*cols)


def first_error(records: DataFrame) -> str | None:
    """Strict-parity helper: the first mapping error, if any.

    First means least in (source_file, row_index, emission order, position
    in `_errors`); emission order within a row is the klass mapping order,
    read from a scan-order id. A sort under `limit(1)` plans as a top-1
    take: every partition keeps its own least error in one wave of tasks
    and the driver keeps the least of those, so the answer does not depend
    on which task finishes first."""
    errors = records.filter(F.size(F.col("_errors")) > 0).select(
        "source_file",
        "row_index",
        F.monotonically_increasing_id().alias("_emit"),
        F.posexplode(F.col("_errors")).alias("_pos", "e"),
    )
    row = errors.orderBy("source_file", "row_index", "_emit", "_pos").limit(1).collect()
    return row[0]["e"] if row else None
