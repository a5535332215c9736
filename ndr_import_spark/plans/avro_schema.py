"""Avro mapping scaffolding (reference: lib/ndr_import/avro/table.rb:9-47).

`table_from_avsc` parses an .avsc JSON schema and scaffolds a TableMapping:
one column per field, `daysafter: '1970-01-01'` mapping for fields with a
`date` logicalType (Avro dates are days-since-epoch ints), filename_pattern
bound to the schema's basename, header_lines=1 (the avro reader emits a
field-name row), footer_lines=0. Pure driver-side Python — no Spark or
avro jar needed to build the plan.
"""

from __future__ import annotations

import json
import os
import re
from typing import Any

from ndr_import_spark.plans.model import TableMapping


def _is_date_field(field_type: Any) -> bool:
    """A union/type carries a date logicalType?"""
    types = field_type if isinstance(field_type, list) else [field_type]
    for t in types:
        if isinstance(t, dict) and t.get("logicalType") == "date":
            return True
    return False


def columns_from_avsc(schema: dict) -> list[dict]:
    columns: list[dict] = []
    for field in schema.get("fields", []):
        column: dict = {"column": field["name"]}
        if _is_date_field(field.get("type")):
            column["mappings"] = [
                {"field": field["name"], "daysafter": "1970-01-01"}
            ]
        columns.append(column)
    return columns


def table_from_avsc(avsc_path: str) -> TableMapping:
    """Scaffold an avro TableMapping from an .avsc schema file."""
    with open(avsc_path) as fh:
        schema = json.load(fh)
    from ndr_import_spark.plans.yaml_loader import RubyRegexp

    file_name = re.sub(r"\.avsc\Z", ".avro", os.path.basename(avsc_path))
    return TableMapping.from_dict(
        {
            # reference builds the Ruby literal "/#{name}\z/"; the parsed
            # pattern form is the escaped name anchored at end-of-string
            "filename_pattern": RubyRegexp(re.escape(file_name) + "\\z"),
            "klass": "ExampleKlass",
            "format": "avro",
            "header_lines": 1,
            "footer_lines": 0,
            "columns": columns_from_avsc(schema),
        },
        kind="avro",
    )
