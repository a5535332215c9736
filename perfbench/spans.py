"""Spans for the traced run, recorded from the benchmark's own files.

`Tracer.wrap` replaces a layer's public function at its module attribute,
so calls the engine makes internally (``Engine.run`` calling
``compiler.first_error``) are timed too. Every span sets the Spark job
group to ``pb/<rep>/<span path>``, so each job in the event log can be
attributed to the innermost span that launched it and to all its parents.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import time

# (module, attribute, span name) wrapped in the traced run, per workload
LAYERS = {
    "feed": [
        ("ndr_import_spark.engine", "read_tables", "sources.read"),
        ("ndr_import_spark.engine", "prepare_table", "header.prepare"),
        ("ndr_import_spark.operators.compiler", "compile_records", "compiler.compile"),
        ("ndr_import_spark.operators.compiler", "first_error", "compiler.first_error"),
    ],
    "media_decode": [
        ("ndr_import_spark.operators.multimodal", "extract_features",
         "multimodal.extract_features"),
        ("ndr_import_spark.operators.multimodal", "image_dedup_groups",
         "multimodal.image_dedup_groups"),
    ],
    "corpus_dedup": [
        ("ndr_import_spark.operators.boilerplate", "extract_main_content",
         "boilerplate.extract_main_content"),
        ("ndr_import_spark.operators.unicode_clean", "clean_unicode",
         "unicode_clean.clean_unicode"),
        ("ndr_import_spark.operators.corpus", "c4_clean", "corpus.c4_clean"),
        ("ndr_import_spark.operators.dedup", "drop_exact_duplicates",
         "dedup.drop_exact_duplicates"),
        ("ndr_import_spark.operators.dedup", "minhash_lsh_star_edges",
         "dedup.minhash_lsh_star_edges"),
        ("ndr_import_spark.operators.dedup", "connected_components",
         "dedup.connected_components"),
        ("ndr_import_spark.operators.corpus", "hash_split", "corpus.hash_split"),
    ],
}
COMMON_LAYERS = [("ndr_import_spark.sinks", "write_records", "sinks.write")]

GROUP_PREFIX = "pb"


class Tracer:
    """Records spans ``{rep, name, path, start, end}`` (epoch seconds) in
    memory; the worker writes them out when it ends. While `enabled` is
    false, spans record nothing and leave the job group alone, so a
    repetition runs as it would untraced (apart from the event log)."""

    def __init__(self, sc):
        self._sc = sc
        self._stack: list[str] = []
        self.rep = -1
        self.spans: list[dict] = []
        self.enabled = True

    def _set_group(self) -> None:
        if self.rep < 0:
            gid = None
        else:
            gid = f"{GROUP_PREFIX}/{self.rep}/{'>'.join(self._stack) or 'rep'}"
        self._sc.setLocalProperty("spark.jobGroup.id", gid)
        self._sc.setLocalProperty("spark.job.description", gid)

    def begin_rep(self, rep: int) -> None:
        self.rep = rep
        self._set_group()

    def end_rep(self) -> None:
        self.rep = -1
        self._set_group()

    def span(self, name: str):
        return _Span(self, name) if self.enabled else contextlib.nullcontext()

    def wrap(self, module: str, attr: str, name: str) -> None:
        mod = importlib.import_module(module)
        fn = getattr(mod, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(mod, attr, traced)

    def wrap_layers(self, workload: str) -> None:
        for module, attr, name in LAYERS[workload] + COMMON_LAYERS:
            self.wrap(module, attr, name)


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self._t = tracer
        self._name = name

    def __enter__(self):
        self._t._stack.append(self._name)
        self._path = ">".join(self._t._stack)
        self._t._set_group()
        self._start = time.time()
        return self

    def __exit__(self, *exc):
        end = time.time()
        self._t._stack.pop()
        self._t._set_group()
        self._t.spans.append({
            "rep": self._t.rep,
            "name": self._name,
            "path": self._path,
            "start": self._start,
            "end": end,
        })
        return False
