"""Whole-stage-codegen must actually COMPILE on the c4-bearing plans.

r7 VERDICT "what's wrong" #2: six oracle-run queries logged
`ERROR CodeGenerator: Failed to compile ... "isNull_1" is not an rvalue`
(a janino bug tripped by the fused lead-window -> md5 -> self-join ->
struct-compare stage inside c4_clean's span dedup). Spark silently falls
back to interpreted evaluation, so results stay right — but at 100x
scale the interpreted path is a real CPU tax, and nothing guarded it.
Bisection (r8) showed the trigger was c4_clean's `spans` frame feeding
both the firsts aggregate and the drops join; the fix is a lazy
checkpoint that also stops the window running twice.

This test runs the three affected queries in a SUBPROCESS (the only way
to capture the driver JVM's stderr — the shared pytest session's fd 2
was inherited at JVM fork time) and asserts the compile-failure marker
never appears."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DRIVER = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
import __spark_entry__ as e
from ndr_import_spark import recommended_session_conf
builder = (SparkSession.builder.master("local[4]")
           .config("spark.sql.shuffle.partitions", "4")
           .config("spark.ui.enabled", "false")
           .config("spark.ui.showConsoleProgress", "false"))
for key, value in recommended_session_conf().items():
    builder = builder.config(key, value)
spark = builder.getOrCreate()
qs = e.queries()
for name in ("c4_clean", "crawl_pipeline", "training_pipeline"):
    qs[name](spark, "/root/testdata/sf0.001").collect()
    print("RAN", name, flush=True)
spark.stop()
"""


def test_c4_plans_compile_without_codegen_fallback():
    proc = subprocess.run(
        [sys.executable, "-c", DRIVER.format(repo=REPO)],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    for name in ("c4_clean", "crawl_pipeline", "training_pipeline"):
        assert f"RAN {name}" in proc.stdout
    assert "Failed to compile" not in proc.stderr, (
        "whole-stage-codegen fell back to interpreted evaluation:\n"
        + "\n".join(
            ln for ln in proc.stderr.splitlines() if "compile" in ln.lower()
        )[:2000]
    )
    assert "not an rvalue" not in proc.stderr
