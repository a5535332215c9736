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


def _call_sites(trees):
    """name -> [(positional count, keyword names)] over every call in the
    repository, plus the names that appear as values rather than as the
    callee of a call (callbacks, registry entries, dispatch tables)."""
    calls = collections.defaultdict(list)
    callees = set()
    for tree in trees:
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            callees.add(id(node.func))
            name = getattr(node.func, "id", getattr(node.func, "attr", None))
            if name is None:
                continue
            starred = any(isinstance(a, ast.Starred) for a in node.args) or any(
                k.arg is None for k in node.keywords
            )
            calls[name].append(
                (
                    None if starred else len(node.args),
                    {k.arg for k in node.keywords},
                )
            )
    as_value = {
        getattr(node, "id", getattr(node, "attr", None))
        for tree in trees
        for node in ast.walk(tree)
        if isinstance(node, (ast.Name, ast.Attribute))
        and isinstance(node.ctx, ast.Load)
        and id(node) not in callees
    }
    return calls, as_value


def test_every_defaulted_parameter_is_passed_somewhere():
    """A defaulted parameter of a public top-level function that no call
    in the repository passes (by keyword, or positionally far enough) is
    a setting nothing exercises: it is a constant. Calls are matched by
    name; functions that are passed as values, or called with
    ``*args``/``**kwargs``, are skipped because their caller is a
    dispatcher the scan cannot see through."""
    files = [(path, ast.parse(src)) for path, src in _repo_python_files()]
    calls, as_value = _call_sites([tree for _path, tree in files])
    unpassed = []
    for path, tree in files:
        if PACKAGE not in path.parents:
            continue
        for node in tree.body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            if node.name.startswith("_") or node.name in as_value:
                continue
            sites = calls[node.name]
            if any(npos is None for npos, _kw in sites):
                continue
            args = node.args
            positional = args.posonlyargs + args.args
            first_default = len(positional) - len(args.defaults)
            defaulted = [
                (i, a.arg) for i, a in enumerate(positional) if i >= first_default
            ]
            defaulted += [
                (None, a.arg)
                for a, d in zip(args.kwonlyargs, args.kw_defaults)
                if d is not None
            ]
            for i, name in defaulted:
                if not any(
                    name in kw or (i is not None and npos > i) for npos, kw in sites
                ):
                    where = f"{path.relative_to(REPO)}:{node.lineno}"
                    unpassed.append(f"{where} {node.name}({name})")
    assert not unpassed, unpassed
