"""In-memory spans and counters for the traced benchmark run.

A span has a name, start, end, parent span and run id. Spans are kept in
memory and written out once, at exit. A layer's self time is its spans'
duration minus the part covered by their child spans.

:func:`instrument` wraps the public entry points of each layer (pipeline,
storage, sources, operators, engine, dialect) in spans for the duration of
a ``with`` block and restores the originals afterwards.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import time
from collections import defaultdict
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._ids = itertools.count()
        #: seconds spent on tracing work itself (counter reads, listings)
        self.overhead_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str):
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append(Span(sid, name, t0, time.perf_counter(), parent, self.run_id))

    def count(self, name: str, value: float = 1) -> None:
        self.counters[name] += value

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, excluding time covered by child spans."""
        child_s: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child_s[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.name] += max(0.0, (s.end - s.start) - child_s[s.id])
        return dict(out)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
            f.write(json.dumps({"counters": dict(self.counters)}) + "\n")


def data_files(path: str) -> list[str]:
    """Parquet data files under a table dir (symlinks resolved)."""
    out = []
    for root, _dirs, files in os.walk(os.path.realpath(path)):
        out.extend(
            os.path.join(root, f)
            for f in files
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
    return out


def _bytes(files: list[str]) -> int:
    return sum(os.path.getsize(f) for f in files)


@contextlib.contextmanager
def instrument(tracer: Tracer):
    """Wrap each layer's public functions in spans (and file counters)."""
    from binance_etl_clickhouse_spark import dialect, engine, pipeline
    from binance_etl_clickhouse_spark.operators import etl
    from binance_etl_clickhouse_spark.sources import fetcher
    from binance_etl_clickhouse_spark.storage.rollup import RollupTable
    from binance_etl_clickhouse_spark.storage.table import ServingTable

    patched: list[tuple[object, str, object]] = []

    def wrap(owner, attr: str, span_name: str, after=None, before=None):
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapped(*args, **kwargs):
            t0 = time.perf_counter()
            state = before(*args) if before else None
            tracer.overhead_s += time.perf_counter() - t0
            with tracer.span(span_name):
                out = orig(*args, **kwargs)
            if after:
                t0 = time.perf_counter()
                after(out, state, *args)
                tracer.overhead_s += time.perf_counter() - t0
            return out

        patched.append((owner, attr, orig))
        setattr(owner, attr, wrapped)

    def files_before(table, *_):
        return set(data_files(table.path)) if table.exists() else set()

    def append_after(_out, before, table, *_):
        new = [f for f in data_files(table.path) if f not in before]
        tracer.count("storage.table.append_files", len(new))
        tracer.count("storage.table.append_bytes", _bytes(new))

    def compact_after(_out, before, table, *_):
        new = [f for f in data_files(table.path) if f not in before]
        tracer.count("storage.table.compact_bytes_rewritten", _bytes(new))

    def read_before(table, *_):
        tracer.count("storage.table.read_files", len(data_files(table.path)))

    def refresh_after(months, *_):
        tracer.count("storage.rollup.months_recomputed", len(months))

    def klines_after(_out, _state, pipe, *_):
        tracer.count(
            "sources.fetcher.failed_symbols", len(getattr(pipe, "last_failed_symbols", []))
        )

    wrap(pipeline.Pipeline, "update_all", "pipeline.update_all")
    wrap(pipeline.Pipeline, "update_klines", "pipeline.update_klines", after=klines_after)
    wrap(pipeline.Pipeline, "update_klines_incremental", "pipeline.update_klines_incremental")
    wrap(pipeline.Pipeline, "maintain", "pipeline.maintain")
    for owner in (pipeline, fetcher):
        wrap(owner, "fetch_historical_klines", "sources.fetcher.fetch_historical_klines")
    for owner in (pipeline, etl):
        wrap(owner, "clean_klines", "operators.etl.clean")
    wrap(ServingTable, "append", "storage.table.append", before=files_before, after=append_after)
    wrap(ServingTable, "read", "storage.table.read", before=read_before)
    wrap(
        ServingTable, "compact_months", "storage.table.compact",
        before=files_before, after=compact_after,
    )
    wrap(RollupTable, "refresh", "storage.rollup.refresh", after=refresh_after)
    wrap(engine.AnalyticsEngine, "sql", "engine.sql")
    wrap(dialect, "translate_clickhouse_sql", "dialect.translate")
    try:
        yield
    finally:
        for owner, attr, orig in reversed(patched):
            setattr(owner, attr, orig)
