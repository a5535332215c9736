"""Standard (named preset) column mappings.

Reference: ``lib/ndr_import/standard_mappings.rb`` (a configurable registry) +
merge semantics in ``lib/ndr_import/mapper.rb:70-83``: the column mapping's
``mappings`` list is *appended* to the preset's, every other key *overwrites*.

The default presets below mirror the reference test fixture
(``test/resources/standard_mappings.yml``).
"""

from __future__ import annotations

import copy

from ndr_import_spark.plans.model import ColumnMapping, MappingError

DEFAULT_STANDARD_MAPPINGS: dict[str, dict] = {
    "surname": {
        "column": "surname",
        "rawtext_name": "surname",
        "mappings": [{"field": "surname", "clean": ":name"}],
    },
    "forenames": {
        "column": "forenames",
        "rawtext_name": "forenames",
        "mappings": [{"field": "forenames", "clean": ":name"}],
    },
    "sex": {
        "column": "sex",
        "rawtext_name": "sex",
        "mappings": [{"field": "sex", "clean": ":sex"}],
    },
    "nhsnumber": {
        "column": "nhs_no",
        "rawtext_name": "nhsnumber",
        "mappings": [{"field": "nhsnumber", "clean": ":nhsnumber"}],
    },
    "postcode": {
        "column": "postcode",
        "rawtext_name": "postcode",
        "mappings": [{"field": "postcode", "clean": ":postcode"}],
    },
}


def resolve(column: ColumnMapping) -> ColumnMapping:
    """Merge a column's ``standard_mapping`` preset (mapper.rb:70-83).

    mappings append; other keys overwrite. Missing preset raises, mirroring
    ``fail "Standard mapping ... does not exist"`` (mapper.rb:238-241).
    """
    name = column.standard_mapping
    if name is None:
        return column
    preset = DEFAULT_STANDARD_MAPPINGS.get(name)
    if preset is None:
        raise MappingError(f'Standard mapping "{name}" does not exist')
    merged = copy.deepcopy(preset)
    for key, value in column.raw.items():
        if key == "standard_mapping":
            continue
        if key == "mappings":
            merged["mappings"] = list(merged.get("mappings", [])) + list(value)
        else:
            merged[key] = value
    return ColumnMapping.from_dict(merged)
