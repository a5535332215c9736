"""attach_row_index invariant: dense 0-based per-file index in scan order,
across multiple files and multiple partitions (the foundation every
order-dependent operator builds on)."""

from __future__ import annotations

import shutil
import tempfile
from contextlib import contextmanager

from ndr_import_spark.sources.registry import read_tables


@contextmanager
def _conf(spark, **confs):
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


class TestRowIndexDensity:
    def test_dense_per_file_multi_partition(self, spark):
        tmp = tempfile.mkdtemp()
        try:
            # two ~45 KB files: one split each at default conf (the split
            # floor is spark.sql.files.openCostInBytes, 4 MB), so each file
            # is its own partition
            for fname, n in [("a.txt", 5000), ("b.txt", 3000)]:
                with open(f"{tmp}/{fname}", "w") as f:
                    for i in range(n):
                        f.write(f"{fname}:{i}\n")
            [(_, df)] = read_tables(spark, f"{tmp}/*.txt", "txt", {})
            rows = df.collect()
            by_file: dict[str, list] = {}
            for r in rows:
                by_file.setdefault(r.source_file.rsplit("/", 1)[-1], []).append(r)
            assert set(by_file) == {"a.txt", "b.txt"}
            for fname, frows in by_file.items():
                idxs = sorted(r.row_index for r in frows)
                n = {"a.txt": 5000, "b.txt": 3000}[fname]
                assert idxs == list(range(n)), f"{fname} index not dense"
                # scan order == file order: row_index i holds line i
                for r in frows:
                    assert r.value == f"{fname}:{r.row_index}"
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    def test_dense_when_file_splits_are_not_adjacent(self, spark):
        # small split size and no per-file open cost: Spark packs splits
        # largest first, so a.csv's short last split lands in a partition
        # after b.csv's; the index must not count b's rows as a gap
        tmp = tempfile.mkdtemp()
        try:
            sizes = {"a.csv": 3000, "b.csv": 900}
            for fname, n in sizes.items():
                with open(f"{tmp}/{fname}", "w") as f:
                    for i in range(n):
                        f.write(f"{fname},{i},{'x' * 40}\n")
            with _conf(
                spark,
                **{
                    "spark.sql.files.maxPartitionBytes": "128k",
                    "spark.sql.files.openCostInBytes": "0",
                },
            ):
                [(_, df)] = read_tables(spark, f"{tmp}/*.csv", "csv", {})
                rows = df.select("source_file", "row_index", "cells").collect()
            by_file: dict[str, list] = {}
            for r in rows:
                by_file.setdefault(r.source_file.rsplit("/", 1)[-1], []).append(r)
            for fname, n in sizes.items():
                frows = by_file[fname]
                assert sorted(r.row_index for r in frows) == list(range(n)), fname
                assert all(r.cells[1] == str(r.row_index) for r in frows), fname
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
