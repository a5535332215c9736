"""Every top-level function and class of the package is named somewhere
in the repository's Python files outside its own definition: code that
nothing calls, imports or tests is deleted rather than kept."""

from __future__ import annotations

import ast
import collections
import os
import pathlib
import re

import ndr_import_spark

PACKAGE = pathlib.Path(ndr_import_spark.__file__).parent
REPO = PACKAGE.parent
WORD = re.compile(r"\w+")


def _repo_python_files():
    for dirpath, dirnames, filenames in os.walk(REPO):
        dirnames[:] = [d for d in dirnames if not d.startswith(".") and d != "__pycache__"]
        for name in filenames:
            if name.endswith(".py"):
                path = pathlib.Path(dirpath, name)
                yield path, path.read_text(encoding="utf-8", errors="replace")


def test_every_top_level_definition_is_named_elsewhere():
    files = list(_repo_python_files())
    words = collections.Counter(w for _path, src in files for w in WORD.findall(src))
    unnamed = []
    for path, src in files:
        if PACKAGE not in path.parents:
            continue
        lines = src.splitlines()
        for node in ast.parse(src).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            start = min([node.lineno] + [d.lineno for d in node.decorator_list])
            own = WORD.findall("\n".join(lines[start - 1:node.end_lineno]))
            if words[node.name] == own.count(node.name):
                unnamed.append(f"{path.relative_to(REPO)}:{node.lineno} {node.name}")
    assert not unnamed, unnamed
