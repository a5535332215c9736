"""Strict CSV import: which error is raised, and how many Spark jobs the
strict read → check → write path runs."""

from __future__ import annotations

import ast
import re
import shutil
import tempfile

import pytest

import ndr_import_spark.sources.common as common
from ndr_import_spark import sinks
from ndr_import_spark.engine import Engine
from ndr_import_spark.plans.model import MissingFieldError

# klass mapping order is Tumour, Patient (not alphabetical); Tumour's
# errors come in column order site, code
MAPPING = """
canonical_name: registry
header_lines: 1
format: csv
columns:
- column: id
  klass: [Tumour, Patient]
  mappings:
  - field: id
    validates:
      presence: true
- column: site
  klass: Tumour
  mappings:
  - field: site
    validates:
      presence: true
- column: code
  klass: Tumour
  mappings:
  - field: code
    validates:
      presence: true
- column: name
  klass: Patient
  mappings:
  - field: name
    validates:
      presence: true
"""

HEADER = "id,site,code,name\n"


@pytest.fixture
def tmp():
    d = tempfile.mkdtemp()
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _write(path: str, rows: list[str]) -> None:
    with open(path, "w") as f:
        f.write(HEADER + "".join(r + "\n" for r in rows))


class TestFirstErrorOrder:
    def _run(self, spark, tmp, a_rows):
        # b.csv is larger, so Spark packs it into the first partition; its
        # error row still sorts after every row of a.csv
        _write(f"{tmp}/a.csv", a_rows)
        _write(f"{tmp}/b.csv", ["9,s,c,"] + [f"{i},s,c,n" for i in range(10, 400)])
        Engine(spark, strict=True).run(MAPPING, f"{tmp}/*.csv", fmt="csv")

    def test_first_in_file_row_klass_and_error_order(self, spark, tmp):
        # row 2 of a.csv: Tumour errors [site, code] and a Patient error
        with pytest.raises(MissingFieldError) as exc:
            self._run(spark, tmp, ["1,s,c,n", "2,,,", "3,s,,"])
        assert str(exc.value) == "site can't be blank"

    def test_width_error_comes_before_the_row_s_field_errors(self, spark, tmp):
        with pytest.raises(ValueError) as exc:
            self._run(spark, tmp, ["1,s,c,n", "2,,,,extra", "3,,c,n"])
        assert not isinstance(exc.value, MissingFieldError)
        assert str(exc.value) == "Line has too many columns (expected 4 but got 5)"


class TestStrictFeedJobs:
    def test_job_count(self, spark, tmp):
        _write(f"{tmp}/a.csv", [f'{i},"s,{i}",c,n' for i in range(50)])
        _write(f"{tmp}/b.csv", [f"{i},s,c,n" for i in range(50, 80)])
        sc = spark.sparkContext
        group = "test_strict_feed_job_count"
        sc.setJobGroup(group, "strict feed job count")
        try:
            out = Engine(spark, strict=True).run(MAPPING, f"{tmp}/*.csv", fmt="csv")
            sinks.write_records(out["registry"], f"{tmp}/out")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        # row index 2 (grouped collect), header check 2, strict check 2,
        # write 2: each action after the index adds one broadcast job for
        # its driver-local delta relation
        assert jobs <= 8, jobs

    def test_record_array_is_compiled_and_parsed_once(self, spark, tmp):
        # the record array is built by a projection and exploded as a
        # column (a generator's own expression tree runs interpreted), and
        # no filter inferred from the explode copies the mapping, and with
        # it the quoted-line parse, below the source
        _write(f"{tmp}/a.csv", ['1,"s,1",c,n', "2,s,c,n"])
        out = Engine(spark, strict=False).run(MAPPING, f"{tmp}/*.csv", fmt="csv")
        plan = out["registry"]._jdf.queryExecution().optimizedPlan().toString()
        assert re.search(r"Generate explode\(_records#\d+\)", plan), plan
        assert plan.count("from_csv(") == 1, plan

    def test_row_index_deltas_are_not_a_python_list(self):
        # a DataFrame made from a Python list is a parallelised Python RDD:
        # every action that reads it would start Python worker tasks
        tree = ast.parse(open(common.__file__).read())
        list_nodes = (ast.List, ast.ListComp, ast.Tuple, ast.GeneratorExp)
        list_names = {
            t.id
            for node in ast.walk(tree)
            if isinstance(node, ast.Assign) and isinstance(node.value, list_nodes)
            for t in node.targets
            if isinstance(t, ast.Name)
        }
        calls = [
            node
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "createDataFrame"
        ]
        assert calls, "attach_row_index no longer builds a delta relation"
        for call in calls:
            arg = call.args[0]
            assert not isinstance(arg, list_nodes), ast.unparse(call)
            assert not (isinstance(arg, ast.Name) and arg.id in list_names), ast.unparse(call)
