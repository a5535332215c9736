import pytest
from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark():
    from ndr_import_spark import recommended_session_conf

    builder = (
        SparkSession.builder.master("local[4]")
        .appName("ndr_import_spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.default.parallelism", "4")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
    )
    # the suite runs under the conf the engine recommends for its workloads
    for key, value in recommended_session_conf().items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    yield spark
    spark.stop()


def run_mapped_line(spark, cells, column_mappings_yaml):
    """mapper_test.rb-style helper: one row of cells + a bare column-mapping
    list → {field: value, 'rawtext': {...}} dict."""
    from ndr_import_spark.operators.compiler import (
        default_cell_fn,
        mapped_line_exprs,
    )
    from ndr_import_spark.plans.yaml_loader import load_column_mappings
    import pyspark.sql.functions as F

    columns = load_column_mappings(column_mappings_yaml)
    df = spark.createDataFrame([(cells,)], "cells array<string>")
    fields, rawtext, errors, _types = mapped_line_exprs(columns, default_cell_fn())
    exprs = []
    for name, (expr, always) in fields.items():
        exprs.append((F.coalesce(expr, F.lit("")) if always else expr).alias(f"f_{name}"))
    for i, (name, expr) in enumerate(rawtext):
        exprs.append(expr.alias(f"r_{i}"))
    err = F.array_compact(F.array(*errors)) if errors else F.array().cast("array<string>")
    exprs.append(err.alias("_errors"))
    row = df.select(*exprs).collect()[0]

    out = {}
    raw = {}
    for name in fields:
        out[name] = row[f"f_{name}"]
    for i, (name, _e) in enumerate(rawtext):
        raw[name] = row[f"r_{i}"]
    out["rawtext"] = raw
    out["_errors"] = list(row["_errors"])
    return out
