"""Hooks into the engine's layers, installed from outside the package.

- ``wrap_load_table`` puts a span around ``session.load_table`` under every
  name it is bound to (``from presto_weather_spark.session import load_table``
  copies the function into each operator module, ``streaming.pipeline``
  included; function-local imports read ``session.load_table`` at call time).
- ``StreamProgress`` is a StreamingQueryListener that keeps every progress
  event and sums them per query window.
- ``Oracle`` compares a collected result with the key's DuckDB oracle using
  the normalization the oracle tests use (``tests/conftest.py``).
"""

from __future__ import annotations

import functools
import json
import math
import sys
import time
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener


def wrap_load_table(tracer) -> list[str]:
    """Wrap every binding of ``session.load_table``; returns the wrapped
    ``module.name`` list."""
    from presto_weather_spark import session

    original = session.load_table

    @functools.wraps(original)
    def load_table(*args, **kwargs):
        with tracer.span("session.load_table", table=args[2] if len(args) > 2 else kwargs.get("name")):
            return original(*args, **kwargs)

    wrapped = []
    for mod_name, mod in list(sys.modules.items()):
        if not mod_name.startswith("presto_weather_spark") or mod is None:
            continue
        for attr, value in list(vars(mod).items()):
            if value is original:
                setattr(mod, attr, load_table)
                wrapped.append(f"{mod_name}.{attr}")
    return sorted(wrapped)


class StreamProgress(StreamingQueryListener):
    """Collects micro-batch progress; attribution is by time window because
    micro-batch jobs run on the stream's own thread, outside any job group
    the client sets."""

    def __init__(self) -> None:
        self.events: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.events.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def per_window(self, spans) -> dict[str, float]:
        """Totals over the progress events whose batch started inside one of
        ``spans``.  State size counts each stream once, at its largest."""
        windows = sorted((s.start, s.end) for s in spans)
        out = dict.fromkeys(
            ("streaming.batches", "streaming.input_rows", "streaming.add_batch_ms",
             "streaming.wal_commit_ms", "streaming.commit_offsets_ms",
             "streaming.query_planning_ms", "streaming.state_rows", "streaming.state_bytes"),
            0.0,
        )
        state: dict[str, tuple[float, float]] = {}
        for ev in list(self.events):
            t = datetime.fromisoformat(ev["timestamp"].replace("Z", "+00:00")).timestamp()
            if not any(lo <= t <= hi for lo, hi in windows):
                continue
            d = ev.get("durationMs", {})
            out["streaming.batches"] += 1
            out["streaming.input_rows"] += ev.get("numInputRows", 0)
            out["streaming.add_batch_ms"] += d.get("addBatch", 0)
            out["streaming.wal_commit_ms"] += d.get("walCommit", 0)
            out["streaming.commit_offsets_ms"] += d.get("commitOffsets", 0)
            out["streaming.query_planning_ms"] += d.get("queryPlanning", 0)
            ops = ev.get("stateOperators", [])
            rows = sum(op.get("numRowsTotal", 0) for op in ops)
            size = sum(op.get("memoryUsedBytes", 0) for op in ops)
            prev = state.get(ev["runId"], (0, 0))
            state[ev["runId"]] = (max(prev[0], rows), max(prev[1], size))
        out["streaming.state_rows"] = sum(r for r, _ in state.values())
        out["streaming.state_bytes"] = sum(b for _, b in state.values())
        return out


def _norm(df) -> list[tuple]:
    """The oracle tests' normalization: columns sorted by name, values
    stringified (floats by repr with -0.0 folded, NaN spelled out), rows
    sorted with a None-safe key."""
    df = df[sorted(df.columns)]

    def nv(v):
        if v is None:
            return None
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            return repr(v + 0.0)
        return str(v)

    rows = [tuple(nv(v) for v in r) for r in df.itertuples(index=False, name=None)]
    return sorted(rows, key=lambda row: tuple("\x00" if v is None else "\x01" + v for v in row))


class Oracle:
    """DuckDB over the benchmark's tables.  ``seconds`` accumulates the time
    spent here, which set-up time excludes."""

    def __init__(self, data_dir: str, tables) -> None:
        import duckdb

        t = time.time()
        self.con = duckdb.connect()
        for name in tables:
            self.con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{data_dir}/{name}.parquet')"
            )
        self.seconds = time.time() - t

    def check(self, sql: str | None, got) -> bool:
        """Row count, sorted column names and order-insensitive values equal
        the oracle's.  A key without an oracle passes here and is rerun later."""
        if sql is None:
            return True
        t = time.time()
        try:
            want = self.con.execute(sql).fetchdf()
            return (
                len(got) == len(want)
                and sorted(got.columns) == sorted(want.columns)
                and _norm(got) == _norm(want)
            )
        finally:
            self.seconds += time.time() - t

    def same(self, a, b) -> bool:
        return sorted(a.columns) == sorted(b.columns) and _norm(a) == _norm(b)

    def close(self) -> None:
        self.con.close()
