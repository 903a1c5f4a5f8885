"""Traced-run tooling: an in-memory span recorder, wrappers patched
where each public function is looked up, and per-op Spark job counters.

The program under test is not modified. :meth:`Tracer.wrap` replaces an
attribute on a module or class with a wrapper that records a span
around each call while the tracer is enabled, and :meth:`Tracer.restore`
puts every original back. A function imported by name into another
module must be patched there too (``palo_spark.palo_session`` binds
``translate`` and ``doris_sql`` at import), which is why
:func:`install` lists lookup sites, not just definitions.
"""

from __future__ import annotations

import contextlib
import json
import os
import time


class Tracer:
    """Spans recorded in memory: ``{id, name, start, end, parent, op,
    attrs}``. One client thread, so a plain stack gives parents."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.enabled = False
        self.op: str | None = None
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "start": time.perf_counter(),
               "end": None, "parent": self._stack[-1] if self._stack else None,
               "op": self.op, "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield attrs
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, owner, attr: str, name: str, on_exit=None) -> None:
        """Patch ``owner.attr``. ``on_exit(attrs, args, result)`` may
        add attributes to the span after the call returns."""
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        fn = raw.__func__ if isinstance(raw, (staticmethod, classmethod)) else raw
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(name) as attrs:
                result = fn(*args, **kwargs)
            if on_exit is not None:  # outside the span's time
                on_exit(attrs, args, result)
            return result

        wrapper.__wrapped__ = fn
        patched = type(raw)(wrapper) if isinstance(raw, (staticmethod, classmethod)) else wrapper
        setattr(owner, attr, patched)
        self._patches.append((owner, attr, raw))

    def restore(self) -> None:
        for owner, attr, raw in reversed(self._patches):
            setattr(owner, attr, raw)
        self._patches.clear()

    def of_op(self, op: str) -> list[dict]:
        return [s for s in self.spans if s["op"] == op]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def install(tracer: Tracer) -> None:
    """Wrap the public entry points of every measured layer at each
    place they are looked up."""
    import pyspark.sql
    import pyspark.sql.classic.dataframe as classic_df

    import palo_spark
    import palo_spark.operators as ops
    import palo_spark.operators.dedup as ops_dedup
    import palo_spark.operators.similarity as ops_sim
    import palo_spark.operators.text as ops_text
    from palo_spark import catalog, palo_session, plans, sources, sql_frontend, tables

    for mod in (catalog, palo_spark):
        tracer.wrap(mod, "register_views", "catalog.register_views")
        tracer.wrap(mod, "load_table", "catalog.load_table")
    for mod in (sql_frontend, palo_session, palo_spark):
        tracer.wrap(mod, "translate", "sql_frontend.translate")
        tracer.wrap(mod, "doris_sql", "sql_frontend.doris_sql")
    tracer.wrap(palo_session.PaloSession, "sql", "palo_session.sql")

    def _rollup_src(attrs, args, result):
        attrs["source"] = result[1]

    tracer.wrap(plans.RollupCatalog, "sql", "plans.rollup_sql", _rollup_src)
    tracer.wrap(sources, "stream_load", "sources.stream_load")

    def _insert_bytes(attrs, args, result):
        t = args[0]
        rs = t.meta.rowsets[-1] if t.meta.rowsets else None
        attrs["bytes"] = dir_bytes(rs["path"]) if rs else 0

    tracer.wrap(tables.Table, "insert", "tables.insert", _insert_bytes)
    tracer.wrap(tables.Table, "read", "tables.read")

    def _compact_bytes(attrs, args, result):
        attrs["bytes"] = sum(dir_bytes(r["path"]) for r in args[0].meta.rowsets)

    tracer.wrap(tables.Table, "compact", "tables.compact", _compact_bytes)
    tracer.wrap(classic_df.DataFrame, "take", "pyspark.take")
    tracer.wrap(pyspark.sql.SparkSession, "createDataFrame", "pyspark.createDataFrame")
    for name, mod in (("dedup_exact", ops_dedup), ("dedup_minhash", ops_dedup),
                      ("similarity_topk", ops_sim), ("gopher_rules", ops_text),
                      ("quality_score", ops_text), ("perplexity_score", ops_text),
                      ("chunk_documents", ops_text)):
        tracer.wrap(ops, name, f"operators.{name}")
        tracer.wrap(mod, name, f"operators.{name}")


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


class JobCounter:
    """Spark jobs, stages and tasks per op: each op runs under its own
    job group and the status tracker is read afterwards."""

    def __init__(self, sc) -> None:
        self.sc = sc

    def start(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def stop(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def counts(self, group: str) -> tuple[int, int, int]:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                si = st.getStageInfo(sid)
                if si is not None and si.numCompletedTasks > 0:
                    stages += 1
                    tasks += si.numCompletedTasks
        return len(jobs), stages, tasks
