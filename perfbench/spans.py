"""Outside-in tracing: wrappers on the public functions of the program's
layer modules record spans (name, start, end, parent, op id) in memory.

Wrappers replace module attributes, so they see every call site that looks
the function up through its module at call time, including the many
function-local ``from ... import ...`` statements.  A module-level
``from ... import f`` made before the wrappers were installed keeps the
original function; ``install`` lists those bindings instead of editing the
program.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import sys
import time

#: (module, function) pairs wrapped in a traced run; the span name is
#: ``<module suffix>.<function>``
TARGETS = [
    ("myscaledb_spark.catalog", "load_table"),
    ("myscaledb_spark.sql_dialect", "ch_sql"),
    ("myscaledb_spark.sql_search", "maybe_search_query"),
    ("myscaledb_spark.plans.table_ddl", "insert_into"),
    ("myscaledb_spark.plans.table_ddl", "optimize_final"),
    ("myscaledb_spark.plans.ddl", "alter_index_ddl"),
    ("myscaledb_spark.plans.mstg_index", "build_mstg_index"),
    ("myscaledb_spark.plans.mstg_index", "mstg_search"),
    ("myscaledb_spark.plans.fts_index", "build_fts_index"),
    ("myscaledb_spark.plans.fts_index", "fts_search"),
    ("myscaledb_spark.plans.frame_cache", "cached_parquet"),
    ("myscaledb_spark.functions.text", "text_search"),
    ("myscaledb_spark.functions.text", "_resident_toked"),
    ("myscaledb_spark.functions.text", "_resident_stats"),
    ("myscaledb_spark.operators.hybrid", "hybrid_search_indexed"),
    ("myscaledb_spark.operators.hybrid", "_fuse_local"),
]


def span_name(module: str, fn: str) -> str:
    return module.split(".")[-1] + "." + fn


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None
        self._orig: list[tuple[object, str, object]] = []

    def begin(self, name: str) -> int:
        sid = len(self.spans)
        self.spans.append({
            "id": sid, "name": name, "op": self.op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(), "end": None,
        })
        self._stack.append(sid)
        return sid

    def end(self, sid: int) -> None:
        self.spans[sid]["end"] = time.perf_counter()
        self._stack.pop()

    @contextlib.contextmanager
    def span(self, name: str):
        sid = self.begin(name)
        try:
            yield
        finally:
            self.end(sid)

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            sid = self.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(sid)

        return wrapper

    def install(self) -> list[str]:
        """Wrap every target; returns the bindings the wrappers cannot see."""
        originals = {}
        for mod_name, fn_name in TARGETS:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, fn_name)
            self._orig.append((mod, fn_name, fn))
            setattr(mod, fn_name, self._wrap(fn, span_name(mod_name, fn_name)))
            originals[id(fn)] = f"{mod_name}.{fn_name}"
        unseen = []
        for mod_name, mod in sorted(sys.modules.items()):
            if not mod_name.startswith("myscaledb_spark") or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                if id(val) in originals:
                    unseen.append(f"{mod_name}.{attr} -> {originals[id(val)]}")
        return unseen

    def uninstall(self) -> None:
        for mod, fn_name, fn in reversed(self._orig):
            setattr(mod, fn_name, fn)
        self._orig.clear()

    def self_ms(self) -> list[tuple[dict, float]]:
        """(span, self ms): duration minus the time its children cover
        (spans of one thread nest, so children never overlap)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return [
            (s, (s["end"] - s["start"] - child[s["id"]]) * 1e3)
            for s in self.spans if s["end"] is not None
        ]

    def dump(self, path: str) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        rows = [
            dict(s, start=s["start"] - t0, end=s["end"] - t0, self_ms=ms)
            for s, ms in self.self_ms()
        ]
        with open(path, "w") as f:
            json.dump(rows, f)
