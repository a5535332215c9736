"""`sources.common.local_frame`: the package's one way to build a frame
from driver-side rows. A frame built from a Python list is a parallelised
Python RDD, so every action that reads it starts Python worker tasks; the
helper's `pyarrow.Table` plans as a `LocalRelation` instead."""

from __future__ import annotations

import ast
import pathlib

import pytest

import ndr_import_spark
from ndr_import_spark.operators.multimodal import MEDIA_SCHEMA
from tests.test_avro_ocf import RICH_SCHEMA, _rich_record, build_ocf
from tests.test_excel import xlsx_path  # noqa: F401  (pytest fixture)

PACKAGE = pathlib.Path(ndr_import_spark.__file__).parent


def test_package_has_one_create_dataframe_call():
    calls = [
        (path.relative_to(PACKAGE).as_posix(), node.lineno)
        for path in sorted(PACKAGE.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8")))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "createDataFrame"
    ]
    assert len(calls) == 1, calls
    path, lineno = calls[0]
    assert path == "sources/common.py"
    tree = ast.parse((PACKAGE / path).read_text(encoding="utf-8"))
    (helper,) = [
        n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "local_frame"
    ]
    assert helper.lineno <= lineno <= helper.end_lineno


@pytest.mark.parametrize(
    "rows, schema",
    [
        ([("f", 0, ["a", None]), ("f", 1, [])],
         "source_file string, row_index long, cells array<string>"),
        ([], "source_file string, row_index long"),
        ([(1, "image", None, 2, 2, 0, bytearray(b"px")),
          (2, "audio", "audio/wav", None, None, None, None)], MEDIA_SCHEMA),
    ],
    ids=["array-with-null", "no-rows", "binary-with-null"],
)
def test_local_frame_keeps_rows_and_schema(spark, rows, schema):
    from ndr_import_spark.sources.common import local_frame

    df = local_frame(spark, rows, schema)
    expected = spark.createDataFrame(rows, schema)
    assert df.schema == expected.schema
    assert df.collect() == expected.collect()


def _excel_frame(spark, tmp_path, xlsx):
    from ndr_import_spark.sources.excel import read_excel

    return read_excel(spark, xlsx, {})[0][1]


def _avro_fallback_frame(spark, tmp_path, xlsx):
    from ndr_import_spark.sources.avro import read_avro

    p = tmp_path / "rich.avro"
    p.write_bytes(build_ocf(RICH_SCHEMA, [_rich_record()]))
    return read_avro(spark, str(p), {})[0][1]


def _xml_no_match_frame(spark, tmp_path, xlsx):
    from ndr_import_spark.sources.xmlfile import read_xml

    p = tmp_path / "sample.xml"
    p.write_text("<root><record><a>1</a></record></root>")
    options = {"pattern_match_record_xpath": True, "xml_record_xpath": r"\Anone\z"}
    return read_xml(spark, str(p), options)[0][1]


@pytest.mark.parametrize(
    "build", [_excel_frame, _avro_fallback_frame, _xml_no_match_frame],
    ids=["excel", "avro-fallback", "xml-no-match"],
)
def test_driver_side_reader_frames_plan_as_local_relation(spark, tmp_path, xlsx_path, build):
    plan = build(spark, tmp_path, xlsx_path)._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan, plan
    assert "LogicalRDD" not in plan and "ExternalRDD" not in plan, plan
