"""Span tracing for the traced run, installed from the benchmark's side.

``Tracer.install()`` replaces the named public functions of each engine
layer, as module attributes, with wrappers that record a span (name,
start, end, parent span, op id, inclusive py4j round trips). Every module
of the package that bound the same function object by name is patched
too, so calls between layers are seen. ``uninstall()`` restores the
originals; an untraced run never installs anything.

py4j round trips are counted at
``py4j.clientserver.ClientServerConnection.send_command`` while
installed. Spans stay in memory and are written as JSONL at the end.

Set-up and warm-up run two independent halves of a workload on two
threads, so each thread keeps its own span stack and op id. The py4j
counter is shared: a span that overlaps the other thread's work counts
its round trips too. The measured loop runs on one thread, so its counts
are exact.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import sys
import threading
import time
from contextlib import contextmanager

PACKAGE = "flink_connector_lance_spark"

# layer (named after the package module) -> public functions wrapped
LAYERS: dict[str, list[str]] = {
    "session": ["get_spark"],
    "io": ["read_parquet_memo"],
    "sources.writer": ["write_dataset"],
    "sources.fragments": ["commit", "read_manifest", "latest_version"],
    "sources.maintenance": ["compact_dataset", "delete_rows", "vacuum_dataset"],
    "sources.reader": ["read_dataset", "count_rows"],
    "sources.datasource": ["register_lance_datasource"],
    "sources.fts": ["create_fts_index", "fts_search"],
    "index": ["build_index", "search_dataset"],
    "pq": ["build_pq_index", "pq_search"],
    "udtf": ["register_vector_search"],
    "operators.knn": ["knn"],
    "operators.dedup": ["minhash_lsh_pairs", "ngram_jaccard_pairs",
                        "connected_components", "resolve_duplicates"],
    "operators.text": ["bm25_search"],
}


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.py4j_calls = 0
        self._local = threading.local()  # per thread: op id and open spans
        self._ids = itertools.count()
        self._patches: list[tuple[object, str, object]] = []

    @property
    def op_id(self) -> int | None:
        return getattr(self._local, "op_id", None)

    @op_id.setter
    def op_id(self, value: int | None) -> None:
        self._local.op_id = value

    @property
    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @property
    def installed(self) -> bool:
        return bool(self._patches)

    @contextmanager
    def span(self, name: str, **attrs):
        """Record one span; nests under the innermost open span."""
        stack = self._stack
        rec = {"id": next(self._ids), "name": name, "op": self.op_id,
               "parent": stack[-1]["id"] if stack else None, **attrs}
        stack.append(rec)
        p0, rec["start"] = self.py4j_calls, time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["py4j"] = self.py4j_calls - p0
            stack.pop()
            self.spans.append(rec)

    def _wrapper(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def install(self) -> None:
        if self.installed:
            return
        from py4j.clientserver import ClientServerConnection

        send = ClientServerConnection.send_command

        def counted(conn, command, *args, **kwargs):
            self.py4j_calls += 1
            return send(conn, command, *args, **kwargs)

        self._patches.append((ClientServerConnection, "send_command", send))
        ClientServerConnection.send_command = counted
        mods = {layer: importlib.import_module(f"{PACKAGE}.{layer}") for layer in LAYERS}
        package = [m for n, m in list(sys.modules.items())
                   if m is not None and (n == PACKAGE or n.startswith(PACKAGE + "."))]
        for layer, names in LAYERS.items():
            mod = mods[layer]
            for fname in names:
                orig = getattr(mod, fname)
                wrapped = self._wrapper(f"{layer}.{fname}", orig)
                for m in package:
                    if getattr(m, fname, None) is orig:
                        self._patches.append((m, fname, orig))
                        setattr(m, fname, wrapped)

    def uninstall(self) -> None:
        for obj, attr, orig in reversed(self._patches):
            setattr(obj, attr, orig)
        self._patches.clear()

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in sorted(self.spans, key=lambda r: r["start"]):
                fh.write(json.dumps(rec) + "\n")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the time its child spans cover (a span's
    children run one after another on its thread, so their durations add)."""
    child = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"]) - child.get(s["id"], 0.0) for s in spans}
