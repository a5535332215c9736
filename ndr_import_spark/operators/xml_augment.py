"""XML repeating-section augmentation — the reference's dynamic per-record
column generation (lib/ndr_import/xml/table.rb:58-106, column_mapping.rb,
masked_mappings.rb) compiled to a STATIC Spark plan.

Reference behaviour (pinned by test/xml/table_test.rb:79-112 and :141-228):

* a repeated section occurrence `pathology[2]/sample/pathology_date` whose
  de-indexed xpath matches a declared column generates a NEW column;
* rawtext (and, with `increment_field_name`, field) names get the joined
  index suffix: `pathology_date_1.2`;
* the record fans out per FIRST index: klass `SomeTestKlass#2` — unless the
  column says `build_new_record: false` (suffixed columns stay on the base
  klass);
* when any `klass#N` exists for a record, the base-klass record is dropped
  (unless a column flags `keep_klass`);
* indices appear at a level only when that level's occurrence count is > 1
  IN THAT RECORD (single occurrences keep the un-indexed xpath).

Spark can't add columns per record, so we enumerate every possible index
assignment up to the OBSERVED maximum occurrence counts (one small driver
aggregate) and gate each generated column/record with structural-presence
predicates (`size(arr) > 1 AND size(arr) >= i` for an indexed level,
`size(arr) == 1` for an un-indexed one). Records whose gates are all false
compile to NULL structs and are compacted away before the explode — the
output matches the reference row-for-row while staying one narrow
select+explode (no shuffle, no UDF).
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ndr_import_spark.operators.xml_table import _extract, _record_struct, _struct_field
from ndr_import_spark.plans.model import ColumnMapping, TableMapping


@dataclass
class _Level:
    """One ArrayType step along a column's path."""

    depth: int          # index into the step list
    step: str           # element name
    max_count: int = 1


def _path_steps(cm: ColumnMapping) -> list[str]:
    cell = cm.xml_cell or {}
    rel = (cell.get("relative_path") or "").strip("/")
    steps = ([s for s in rel.split("/") if s] if rel else [])
    name = cm.column if isinstance(cm.column, str) else cm.standard_mapping
    steps.append(name)
    if cell.get("attribute"):
        steps.append("@" + cell["attribute"])
    return steps


def _array_levels(schema: T.StructType, steps: list[str]) -> list[_Level]:
    """Which steps are repeatable (ArrayType) in the parsed schema."""
    levels: list[_Level] = []
    dtype: T.DataType = schema
    for depth, step in enumerate(steps):
        if step.startswith("@"):
            break
        f = _struct_field(dtype, step)
        if f is None:
            break
        dtype = f.dataType
        if isinstance(dtype, T.ArrayType):
            levels.append(_Level(depth=depth, step=step))
            dtype = dtype.elementType
    return levels


def _size_expr(record: Column, schema: T.StructType, steps: list[str], upto: int,
               idx: dict[int, int]) -> Column:
    """size() of the array at step `upto`, navigating earlier levels with the
    given index assignment (unindexed earlier levels take element 1)."""
    cur = record
    dtype: T.DataType = schema
    for depth in range(upto + 1):
        f = _struct_field(dtype, steps[depth])
        if f is None:
            return F.lit(-1)
        cur = cur.getField(steps[depth])
        dtype = f.dataType
        if isinstance(dtype, T.ArrayType):
            if depth == upto:
                return F.size(cur)
            cur = F.try_element_at(cur, F.lit(idx.get(depth, 1)))
            dtype = dtype.elementType
    return F.lit(-1)


def _gated_cell(record: Column, schema: T.StructType, steps: list[str],
                levels: list[_Level], assignment: dict[int, int | None]
                ) -> tuple[Column, Column]:
    """(cell, structural gate) for one index assignment.

    assignment maps level-depth → 1-based index (indexed) or None
    (single-occurrence). Levels beyond the last array step use _extract's
    normal multi-match rule.
    """
    gate = F.lit(True)
    cur = record
    dtype: T.DataType = schema
    level_depths = {lv.depth for lv in levels}
    idx_for_size: dict[int, int] = {
        d: (i if i is not None else 1) for d, i in assignment.items()
    }
    depth = 0
    while depth < len(steps):
        step = steps[depth]
        if step.startswith("@"):
            break
        f = _struct_field(dtype, step)
        if f is None:
            return F.lit(None).cast("string"), F.lit(False)
        cur = cur.getField(step)
        dtype = f.dataType
        if isinstance(dtype, T.ArrayType) and depth in level_depths:
            size = F.size(cur)
            i = assignment.get(depth)
            if i is None:
                gate = gate & (size == 1)
                cur = F.try_element_at(cur, F.lit(1))
            else:
                gate = gate & (size > 1) & (size >= F.lit(i))
                cur = F.try_element_at(cur, F.lit(i))
            dtype = dtype.elementType
        depth += 1
    rest = steps[depth:]  # attribute, if any
    cell = _extract(cur, dtype, rest)
    return F.coalesce(cell, F.lit("")), gate


@dataclass
class AugmentedColumn:
    cm: ColumnMapping
    assignment: dict[int, int | None]
    suffix: str              # '' for the base (un-augmented) column
    klass_tag: str | None    # e.g. 'SomeTestKlass#2'; None → base klass row
    cell: Column
    gate: Column


def compute_max_counts(df: DataFrame, mapping: TableMapping) -> dict[tuple[str, int], int]:
    """ONE aggregate over the data: max occurrence count per (column path,
    level). Nested levels take the max over all outer elements."""
    record, schema = _record_struct(df)
    aggs = []
    keys: list[tuple[str, int]] = []
    for cm in mapping.columns:
        steps = _path_steps(cm)
        levels = _array_levels(schema, steps)
        for lv in levels:
            key = ("/".join(steps), lv.depth)
            if key in keys:
                continue
            keys.append(key)
            # max over records of max over outer combos: approximate with
            # index-1 navigation for outer levels (sections beyond the first
            # outer occurrence rarely have a deeper max; refined per query
            # by taking max over outer index 1..max in a second pass)
            aggs.append(F.max(_size_expr(record, schema, steps, lv.depth, {})).alias(f"m{len(keys) - 1}"))
    if not aggs:
        return {}
    row = df.agg(*aggs).collect()[0]
    out = {}
    for i, key in enumerate(keys):
        out[key] = max(int(row[f"m{i}"] or 1), 1)
    # second pass: nested maxes under outer indices > 1
    refine_aggs = []
    refine_keys = []
    for cm in mapping.columns:
        steps = _path_steps(cm)
        levels = _array_levels(schema, steps)
        for li, lv in enumerate(levels):
            if li == 0:
                continue
            outer = levels[li - 1]
            outer_max = out.get(("/".join(steps), outer.depth), 1)
            for oi in range(2, outer_max + 1):
                key = ("/".join(steps), lv.depth)
                refine_keys.append(key)
                refine_aggs.append(
                    F.max(
                        _size_expr(record, schema, steps, lv.depth, {outer.depth: oi})
                    ).alias(f"r{len(refine_keys) - 1}")
                )
    if refine_aggs:
        row = df.agg(*refine_aggs).collect()[0]
        for i, key in enumerate(refine_keys):
            out[key] = max(out.get(key, 1), int(row[f"r{i}"] or 1))
    return out


def augmented_columns(df: DataFrame, mapping: TableMapping) -> list[AugmentedColumn]:
    """The static augmented column set: base columns plus one column per
    index assignment with at least one real index."""
    record, schema = _record_struct(df)
    max_counts = compute_max_counts(df, mapping)

    out: list[AugmentedColumn] = []
    for cm in mapping.columns:
        steps = _path_steps(cm)
        levels = _array_levels(schema, steps)
        path_key = "/".join(steps)
        cell_opts = cm.xml_cell or {}
        multiple = bool(cell_opts.get("multiple"))
        build_new_record = cell_opts.get("build_new_record")
        increment_field = bool(cell_opts.get("increment_field_name"))

        # base column: the reference's un-indexed xpath (multi-match → '',
        # absent → '' — Nokogiri inner_text of zero matches)
        base_cell = F.coalesce(_extract(record, schema, steps), F.lit(""))
        out.append(
            AugmentedColumn(cm, {}, "", None, base_cell, F.lit(True))
        )
        if not levels:
            continue

        options_per_level = []
        for lv in levels:
            mx = max_counts.get((path_key, lv.depth), 1)
            options_per_level.append([None] + list(range(1, mx + 1)))
        for combo in itertools.product(*options_per_level):
            if all(i is None for i in combo):
                continue  # that's the base column
            assignment = {lv.depth: combo[j] for j, lv in enumerate(levels)}
            indices = [i for i in combo if i is not None]
            suffix = ".".join(str(i) for i in indices)
            cell, gate = _gated_cell(record, schema, steps, levels, assignment)
            klass_tag = None
            if build_new_record is not False:
                base_klasses = cm.klasses() or ([mapping.klass] if mapping.klass else [])
                if base_klasses and mapping.klass is None:
                    klass_tag = f"{base_klasses[0]}#{indices[0]}"
            out.append(AugmentedColumn(cm, assignment, suffix, klass_tag, cell, gate))
    return out


def transform_xml_table_augmented(
    df: DataFrame, mapping: TableMapping, strict: bool = False
) -> DataFrame:
    """Records DataFrame with repeating-section fan-out.

    Output shape matches compile_records: (klass, fields, rawtext,
    row_index, source_file, _errors).
    """
    from ndr_import_spark.plans import standard_mappings as SM

    cols = augmented_columns(df, mapping)

    # group columns into output records: base klass + each klass#N
    base_klass = mapping.klass
    klass_tags = sorted(
        {c.klass_tag for c in cols if c.klass_tag is not None},
        key=lambda t: (t.split("#")[0], int(t.split("#")[1])),
    )

    def entries_for(selected: list[AugmentedColumn]):
        from ndr_import_spark.operators.compiler import _apply_replaces, _mapped_value

        fields_entries, raw_entries = [], []
        for ac in selected:
            cm = SM.resolve(ac.cm)
            cell_opts = cm.xml_cell or {}
            multiple = bool(cell_opts.get("multiple"))
            increment_field = bool(cell_opts.get("increment_field_name"))
            # naming parity (column_mapping.rb): rawtext suffixed only for
            # `multiple` columns; mapped fields additionally need
            # `increment_field_name`
            raw_name = (cm.rawtext_column_name() or "") + (
                f"_{ac.suffix}" if ac.suffix and multiple else ""
            )
            raw_entries.append((raw_name, F.when(ac.gate, ac.cell)))
            for fm in cm.mappings:
                if fm.field is None:
                    continue
                fname = fm.field + (
                    f"_{ac.suffix}" if ac.suffix and multiple and increment_field else ""
                )
                fields_entries.append(
                    (fname, F.when(ac.gate, _mapped_value(_apply_replaces(ac.cell, fm), fm)))
                )
        return fields_entries, raw_entries

    def build_map(entries):
        if not entries:
            return F.map_from_arrays(
                F.array().cast("array<string>"), F.array().cast("array<string>")
            )
        dedup: dict[str, Column] = {}
        for name, expr in entries:
            dedup[name] = expr
        m = F.map_from_entries(
            F.array(*[
                F.struct(F.lit(k).alias("key"), v.cast("string").alias("value"))
                for k, v in dedup.items()
            ])
        )
        return F.map_filter(m, lambda k, v: v.isNotNull())

    record_structs = []

    # klass#N records: columns tagged with that klass, gated by any-present
    for tag in klass_tags:
        selected = [c for c in cols if c.klass_tag == tag]
        fields_entries, raw_entries = entries_for(selected)
        any_present = None
        for ac in selected:
            any_present = ac.gate if any_present is None else (any_present | ac.gate)
        struct = F.struct(
            F.lit(tag).alias("klass"),
            build_map(fields_entries).alias("fields"),
            build_map(raw_entries).alias("rawtext"),
            F.array().cast("array<string>").alias("_errors"),
        )
        record_structs.append(F.when(any_present, struct))

    # base record: base columns + suffixed build_new_record=false columns;
    # suppressed when any klass#N record exists (unless keep_klass)
    base_selected = [c for c in cols if c.klass_tag is None]
    fields_entries, raw_entries = entries_for(base_selected)
    any_aug = None
    for c in cols:
        if c.klass_tag is not None:
            any_aug = c.gate if any_aug is None else (any_aug | c.gate)
    keep_klass = any(
        bool((c.cm.xml_cell or {}).get("keep_klass")) for c in cols
    )
    base_klass_name = base_klass or (
        (mapping.columns[0].klasses() or ["record"])[0] if mapping.columns else "record"
    )
    base_struct = F.struct(
        F.lit(base_klass_name).alias("klass"),
        build_map(fields_entries).alias("fields"),
        build_map(raw_entries).alias("rawtext"),
        F.array().cast("array<string>").alias("_errors"),
    )
    if any_aug is not None and not keep_klass:
        record_structs.append(F.when(~any_aug, base_struct))
    else:
        record_structs.append(base_struct)

    arr = F.array_compact(F.array(*record_structs))
    out = df.select(
        "source_file", "row_index", F.explode(arr).alias("record")
    ).select(
        F.col("record.klass").alias("klass"),
        F.col("record.fields").alias("fields"),
        F.col("record.rawtext").alias("rawtext"),
        "row_index",
        "source_file",
        F.col("record._errors").alias("_errors"),
    )
    return out
