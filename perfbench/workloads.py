"""The three workloads, each driven by one closed-loop client.

A workload object generates its inputs when built (untimed). The run
then calls :meth:`setup`, :meth:`measure` and, after the timed window,
:meth:`check`. ``metrics()`` gives the end-to-end numbers, ``layers()``
the per-layer ones of a traced run and ``report()`` the workload's own
figures.
"""

from __future__ import annotations

import json
import math
import os
import re
import statistics
import time
import traceback
from decimal import Decimal

import numpy as np
import pyarrow.parquet as pq

import gen
import stats
from spans import JobCounter, dir_bytes

#: the fewest latency samples a run takes: the median then has ten
#: samples beyond it. Tails (p75, p90) are reported when a run has the
#: samples for them.
MIN_SAMPLES = stats.min_samples(0.5)


def now() -> float:
    return time.perf_counter()


class Harness:
    """What one run shares across workloads: the work dir, the live
    Spark session, the tracer and the per-op job counts."""

    def __init__(self, work: str, tracer, traced: bool) -> None:
        self.work = work
        self.tracer = tracer
        self.traced = traced
        self.spark = None
        self.jobs: dict[str, tuple[int, int, int]] = {}
        self.errors: list[str] = []

    def start_session(self):
        from palo_spark import get_session

        with self.tracer.span("session.start"):
            self.spark = get_session(app_name="perfbench", extra_confs={
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                # no hsperfdata file in /tmp: the run writes only in its
                # dir. A fixed heap and young generation keep the GC from
                # resizing them differently from run to run, which made
                # peak_rss_mb swing by 15%.
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={self.work}/tmp -Dderby.system.home={self.work} "
                    f"-XX:-UsePerfData -Xms{os.environ['PALO_SPARK_DRIVER_MEM']} -Xmn512m",
                "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
                "spark.ui.showConsoleProgress": "false",
            })
        self.counter = JobCounter(self.spark.sparkContext)
        return self.spark

    def trace_op(self, i: int, block: int = 1) -> bool:
        """Traced runs trace every other block of ``block`` ops; the
        untraced blocks give the tracing-overhead baseline under the same
        op mix."""
        return self.traced and (i // block) % 2 == 1

    def timed(self, op: str, fn, traced: bool):
        """Run ``fn()`` as one op. Returns ``(seconds, result, ok)``; an
        exception is recorded and counts as a failed op."""
        if traced:
            self.tracer.enabled, self.tracer.op = True, op
            self.counter.start(op)
        t0 = now()
        try:
            res, ok = fn(), True
        except Exception:  # one failed op must not end the run
            res, ok = None, False
            self.errors.append(f"{op}: {traceback.format_exc(limit=3)}")
        dt = now() - t0
        if traced:
            self.tracer.enabled = False
            self.counter.stop()
            self.jobs[op] = self.counter.counts(op)
        return dt, res, ok

    def action(self, fn):
        """A Spark action on the op's result, spanned as
        ``session.action``."""
        with self.tracer.span("session.action"):
            return fn()

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark.sparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")


def _same_value(a, b) -> bool:
    a, b = (float(x) if isinstance(x, Decimal) else x for x in (a, b))
    if isinstance(a, float) or isinstance(b, float):
        return (isinstance(a, (int, float)) and isinstance(b, (int, float))
                and math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6))
    return a == b


def _sort_key(row):
    return tuple(
        (1, round(float(v), 2)) if isinstance(v, float) else (0, str(v))
        for v in row
    )


def same_rows(got, want) -> bool:
    """Row lists equal as multisets, floats within summation-order
    tolerance."""
    got = sorted((tuple(r) for r in got), key=_sort_key)
    want = sorted((tuple(r) for r in want), key=_sort_key)
    return len(got) == len(want) and all(
        len(g) == len(w) and all(_same_value(x, y) for x, y in zip(g, w))
        for g, w in zip(got, want)
    )


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _ms(xs) -> float:
    return _median(xs) * 1000.0


def _span_ms_per_op(tracer, ops, name: str) -> float:
    """Mean over ``ops`` of the op's total time in ``name`` spans."""
    if not ops:
        return 0.0
    return 1000.0 * sum(s["end"] - s["start"] for o in ops for s in tracer.of_op(o)
                        if s["name"] == name) / len(ops)


def latency_report(prefix: str, secs) -> dict:
    """``<prefix>_p50_ms`` plus every tail the samples support, and the
    sample count."""
    out = {f"{prefix}_samples": len(secs)}
    if secs:
        out[f"{prefix}_p50_ms"] = stats.percentile(secs, 0.5) * 1000
        out.update({f"{prefix}_{k}_ms": v * 1000 for k, v in stats.tails(secs).items()})
    return out


def _cache_store_ms(tracer, ops) -> float:
    """Median over the traced ops that stored a result in the cache of
    their time in ``take`` + ``createDataFrame``."""
    store = []
    for o in ops:
        sp = tracer.of_op(o)
        if any(s["name"] == "pyspark.take" for s in sp):
            store.append(sum(s["end"] - s["start"] for s in sp
                             if s["name"] in ("pyspark.take", "pyspark.createDataFrame")))
    return _ms(store)


def _count_per_op(tracer, ops, name: str) -> float:
    if not ops:
        return 0.0
    return sum(1 for o in ops for s in tracer.of_op(o) if s["name"] == name) / len(ops)


class Workload:
    """Shared bookkeeping: op records and the per-layer metrics every
    workload reports (zero where a layer is bypassed)."""

    name = ""

    def __init__(self, h: Harness) -> None:
        self.h = h
        self.inputs = os.path.join(h.work, "inputs")
        os.makedirs(self.inputs, exist_ok=True)
        self.attempted = 0
        self.failed = 0

    # -- per-layer metrics common to every workload
    def traced_ops(self) -> list[str]:
        return sorted(self.h.jobs)

    def base_layers(self) -> dict[str, float]:
        t = self.h.tracer
        ops = self.traced_ops()
        n = max(len(ops), 1)
        jobs = [self.h.jobs[o] for o in ops]
        self_t = stats.self_times([s for s in t.spans if s["end"] is not None])
        starts = [s["end"] - s["start"] for s in t.spans if s["name"] == "session.start"]
        reg = [s["end"] - s["start"] for s in t.spans
               if s["name"] == "catalog.register_views" and s["op"] is None]
        sql_self = sum(self_t[s["id"]] for o in ops for s in t.of_op(o)
                       if s["name"] == "palo_session.sql")
        rollup = [s for s in t.spans if s["name"] == "plans.rollup_sql" and s["op"]]
        loads = [s for s in t.spans if s["name"] == "sources.stream_load" and s["op"]]
        return {
            "session.start_s": _median(starts),
            "session.jobs_per_op": sum(j[0] for j in jobs) / n,
            "session.stages_per_op": sum(j[1] for j in jobs) / n,
            "session.tasks_per_op": sum(j[2] for j in jobs) / n,
            "session.action_ms": _span_ms_per_op(t, ops, "session.action"),
            "catalog.register_views_ms": _ms(reg),
            "catalog.load_table_calls_per_op": _count_per_op(t, ops, "catalog.load_table"),
            "sql_frontend.translate_ms": _span_ms_per_op(t, ops, "sql_frontend.translate"),
            "sql_frontend.translate_calls_per_op": _count_per_op(t, ops, "sql_frontend.translate"),
            "palo_session.sql_self_ms": 1000.0 * sql_self / n,
            "plans.rollup_hit_ratio": (
                sum(1 for s in rollup if s["attrs"].get("source") not in ("base-sql", "spark"))
                / len(rollup) if rollup else 0.0),
            "plans.rollup_sql_ms": _ms([s["end"] - s["start"] for s in rollup]),
            "palo_session.cache_store_ms": _cache_store_ms(t, ops),
            "sources.stream_load_self_ms": _ms([self_t[s["id"]] for s in loads]),
            "tables.read_ms": _span_ms_per_op(t, ops, "tables.read"),
            "trace.spans_per_op": (
                sum(1 for s in t.spans if s["op"] in self.h.jobs) / n),
        }

    def overhead_ms(self, lat: list[tuple[bool, float]]) -> float:
        """Traced median minus untraced median of the op latencies."""
        on = [x for tr, x in lat if tr]
        off = [x for tr, x in lat if not tr]
        return _ms(on) - _ms(off)


# ---------------------------------------------------------------- olap

class OlapDashboard(Workload):
    """Doris-dialect SELECTs through one cached PaloSession."""

    name = "olap_dashboard"

    def __init__(self, h: Harness, seed: int) -> None:
        super().__init__(h)
        self.paths = gen.write_tables(seed, self.inputs)
        self.stream = gen.olap_stream(seed)
        self.warmup = gen.olap_warmup(seed)
        with open(os.path.join(self.inputs, "olap_stream.json"), "w") as f:
            json.dump(self.stream, f)
        self.policy = (f"one op in {gen.FRESH_EVERY} issues a new text; "
                       f"{len(self.stream)}-op stream over {len(gen.olap_grid(seed))} texts")

    def setup(self) -> None:
        import palo_spark.catalog as catalog
        from palo_spark import PaloSession
        from palo_spark.plans import RollupCatalog

        spark = self.h.start_session()
        catalog.register_views(spark, self.inputs)
        root = os.path.join(self.h.work, "warehouse")
        self.ps = PaloSession(
            spark, location_root=root, result_cache=True,
            rollups=RollupCatalog(spark, root=os.path.join(root, "_rollups")),
        )
        for ddl in gen.OLAP_DDL:
            self.ps.sql(ddl)
        for q in self.warmup:
            self.ps.sql(q).collect()

    def measure(self, seconds: float) -> None:
        h, ps = self.h, self.ps
        self.ops = []
        # whole stream cycles only, so every run measures the same mix; a
        # traced run measures an untraced cycle, then a traced one
        cycle = gen.FRESH_EVERY * len(gen.OLAP_TEMPLATES)
        min_ops = max(MIN_SAMPLES, 2 * cycle if h.traced else cycle)
        t0 = now()
        for i, (tmpl, sql, oracle) in enumerate(self.stream):
            if i % cycle == 0 and now() - t0 >= seconds and i >= min_ops:
                break
            traced = h.trace_op(i, cycle)

            def run():
                df = ps.sql(sql)
                return h.action(df.collect)

            dt, rows, ok = h.timed(f"q{i:04d}", run, traced)
            self.ops.append({
                "i": i, "template": tmpl, "oracle": oracle, "s": dt, "ok": ok,
                "rows": rows, "traced": traced, "hit": ps.last_cache_hit,
                "mv": ps.last_mv_rewrite, "indexed": ps.last_match_indexed,
            })
        self.wall = now() - t0
        self.attempted = len(self.ops)

    def check(self) -> None:
        import duckdb

        con = duckdb.connect()
        for name, path in self.paths.items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        for v in gen.OLAP_ORACLE_VIEWS:
            con.execute(v)
        want: dict[str, list] = {}
        for op in self.ops:
            if op["ok"]:
                if op["oracle"] not in want:
                    want[op["oracle"]] = con.execute(op["oracle"]).fetchall()
                op["ok"] = same_rows(op["rows"], want[op["oracle"]])
            self.failed += not op["ok"]
        con.close()
        self.distinct_checked = len(want)

    def latencies(self) -> list[float]:
        return [op["s"] for op in self.ops]

    def metrics(self) -> dict[str, float]:
        return {
            "query_p50_ms": stats.percentile(self.latencies(), 0.5) * 1000,
            "throughput_per_s": len(self.ops) / self.wall,
        }

    def layers(self) -> dict[str, float]:
        hits = [op for op in self.ops if op["hit"]]
        misses = [op for op in self.ops if not op["hit"]]
        out = self.base_layers()
        out.update({
            "palo_session.cache_hit_ratio": len(hits) / len(self.ops),
            "palo_session.cache_hit_ms": _ms([op["s"] for op in hits]),
            "palo_session.mv_rewrite_ratio": (
                sum(1 for op in misses if op["mv"]) / len(misses) if misses else 0.0),
            "palo_session.index_route_ratio": (
                sum(1 for op in misses if op["indexed"]) / len(misses) if misses else 0.0),
            "trace.overhead_ms": self.overhead_ms([(op["traced"], op["s"]) for op in self.ops]),
        })
        return out

    def report(self) -> dict:
        return {
            **latency_report("query", self.latencies()),
            "queries_per_s": len(self.ops) / self.wall,
            "cache_hits": sum(op["hit"] for op in self.ops),
            "distinct_texts_checked": self.distinct_checked,
            "policy": self.policy,
        }


# -------------------------------------------------------------- ingest

#: the reads after every commit: two point lookups and one aggregate,
#: so the class shares (2/3, 1/3) keep the median off the seam. Like the
#: load mix in ``gen``, a fixed policy: it must keep both a key-selective
#: and a full-table read after every commit, at shares off the seam.
INGEST_READS = ("point", "point", "agg")
POINT_SQL = (f"SELECT {', '.join(gen.INGEST_COLUMNS)} FROM {{}} "
             "WHERE l_orderkey = {} ORDER BY l_linenumber")
AGG_SQL = ("SELECT l_returnflag, COUNT(*) AS n, SUM(l_quantity) AS qty "
           "FROM {} GROUP BY l_returnflag ORDER BY l_returnflag")


class IngestUpsert(Workload):
    """Stream loads into a UNIQUE KEY table, each followed by reads."""

    name = "ingest_upsert"
    N_BATCHES = 40

    def __init__(self, h: Harness, seed: int) -> None:
        super().__init__(h)
        self.batches = gen.ingest_batches(seed, self.N_BATCHES)
        self.warm = gen.ingest_batches(seed + 1, 1)
        for i, b in enumerate(self.batches):
            pq.write_table(b["rows"], os.path.join(self.inputs, f"batch{i:04d}.parquet"))
        rng = np.random.default_rng([seed, 8])
        self.pick = rng.random(self.N_BATCHES * len(INGEST_READS) * 2)
        self.policy = (f"{gen.INGEST_BATCH_ROWS} rows per batch, {gen.INGEST_OVERLAP:.0%} "
                       f"re-written keys; every {gen.MERGE_EVERY}th load a MERGE deleting "
                       f"{gen.INGEST_DELETE_SHARE:.0%}; compact after each MERGE; "
                       f"reads per commit {'/'.join(INGEST_READS)}")

    def _load(self, table, b):
        from palo_spark import sources

        df = self.h.spark.createDataFrame(b["rows"].to_pandas(), gen.ingest_spark_schema())
        if b["merge"]:
            return sources.stream_load(table, df, b["label"], merge_type="MERGE",
                                       delete_on=gen.DELETE_ON)
        return sources.stream_load(table, df, b["label"])

    def setup(self) -> None:
        from palo_spark import PaloSession

        spark = self.h.start_session()
        self.ps = PaloSession(spark, location_root=os.path.join(self.h.work, "warehouse"),
                              result_cache=True)
        self.ps.sql(gen.ingest_ddl("li_warm"))
        warm = self.ps.tables["li_warm"]
        for b in self.warm:
            self._load(warm, b)
            k = int(b["rows"].column("l_orderkey")[0].as_py())
            self.ps.sql(POINT_SQL.format("li_warm", k)).collect()
            self.ps.sql(AGG_SQL.format("li_warm")).collect()
        warm.compact()
        self.ps.sql(gen.ingest_ddl("li_rt"))
        self.table = self.ps.tables["li_rt"]

    def measure(self, seconds: float) -> None:
        h, ps, t = self.h, self.ps, self.table
        self.writes, self.reads, self.compactions = [], [], []
        self.rows_committed = 0
        picks = iter(self.pick)
        t0 = now()
        for c, b in enumerate(self.batches):
            if now() - t0 >= seconds and len(self.reads) >= MIN_SAMPLES:
                break
            traced = h.trace_op(c)
            dt, _, ok = h.timed(f"c{c:04d}w", lambda: self._load(t, b), traced)
            self.writes.append({"c": c, "s": dt, "ok": ok, "traced": traced})
            self.rows_committed += len(b["rows"]) if ok else 0
            for r, kind in enumerate(INGEST_READS):
                if kind == "point":
                    src = self.batches[int(next(picks) * (c + 1))]["rows"]
                    k = int(src.column("l_orderkey")[int(next(picks) * len(src))].as_py())
                    sql = POINT_SQL.format("li_rt", k)
                else:
                    k, sql = None, AGG_SQL.format("li_rt")
                rowsets = len(t.meta.rowsets)

                def run(sql=sql):
                    return h.action(ps.sql(sql).collect)

                dt, rows, ok = h.timed(f"c{c:04d}r{r}", run, traced)
                self.reads.append({"c": c, "kind": kind, "key": k, "s": dt, "ok": ok,
                                   "rows": rows, "traced": traced, "hit": ps.last_cache_hit,
                                   "rowsets": rowsets})
            if (c + 1) % gen.MERGE_EVERY == 0:  # after each MERGE load
                dt, _, ok = h.timed(f"c{c:04d}k", t.compact, traced)
                self.compactions.append({"c": c, "s": dt, "ok": ok})
        self.commits = len(self.writes)
        self.attempted = len(self.writes) + len(self.reads) + len(self.compactions)

    def check(self) -> None:
        state: dict = {}
        by_commit: dict[int, list] = {}
        for rd in self.reads:
            by_commit.setdefault(rd["c"], []).append(rd)
        for c in range(self.commits):
            if self.writes[c]["ok"]:
                gen.replay([self.batches[c]], state)
            for rd in by_commit.get(c, []):
                if rd["ok"]:
                    rd["ok"] = same_rows(rd["rows"], self._expect(rd, state))
        self.failed = sum(not x["ok"] for x in self.writes + self.reads + self.compactions)
        rows = self.ps.sql("SELECT * FROM li_rt").collect()
        want = [k + v for k, v in state.items()]
        self.end_state_ok = same_rows(rows, want)
        if not self.end_state_ok:
            self.failed += 1
        self.live_rows = len(state)
        self.table_bytes = dir_bytes(self.table.location)

    @staticmethod
    def _expect(rd, state):
        if rd["kind"] == "point":
            return [k + v for k, v in state.items() if k[0] == rd["key"]]
        flag = gen.INGEST_VALUES.index("l_returnflag")
        qty = gen.INGEST_VALUES.index("l_quantity")
        agg: dict[str, list] = {}
        for v in state.values():
            a = agg.setdefault(v[flag], [0, 0.0])
            a[0] += 1
            a[1] += v[qty]
        return [(f, n, q) for f, (n, q) in agg.items()]

    def latencies(self) -> list[float]:
        return [rd["s"] for rd in self.reads]

    def metrics(self) -> dict[str, float]:
        busy = sum(w["s"] for w in self.writes) + sum(k["s"] for k in self.compactions)
        return {
            "query_p50_ms": stats.percentile(self.latencies(), 0.5) * 1000,
            "throughput_per_s": self.rows_committed / busy,
        }

    def layers(self) -> dict[str, float]:
        t = self.h.tracer
        inserts = [s for s in t.spans if s["name"] == "tables.insert" and s["op"]]
        loaded = sum(len(self.batches[int(s["op"][1:5])]["rows"]) for s in inserts)
        compacts = [s for s in t.spans if s["name"] == "tables.compact" and s["op"]]
        reads = self.reads
        out = self.base_layers()
        out.update({
            "palo_session.cache_hit_ratio": sum(rd["hit"] for rd in reads) / len(reads),
            "palo_session.cache_hit_ms": _ms([rd["s"] for rd in reads if rd["hit"]]),
            "tables.insert_ms": _ms([s["end"] - s["start"] for s in inserts]),
            "tables.bytes_written_per_row": (
                sum(s["attrs"]["bytes"] for s in inserts) / loaded if loaded else 0.0),
            "tables.rowsets_per_read": statistics.mean(rd["rowsets"] for rd in reads),
            "tables.compact_ms": _ms([s["end"] - s["start"] for s in compacts]),
            "tables.compact_bytes_rewritten": (
                statistics.mean(s["attrs"]["bytes"] for s in compacts) if compacts else 0.0),
            "tables.compactions": float(len(self.compactions)),
            "trace.overhead_ms": self.overhead_ms([(rd["traced"], rd["s"]) for rd in reads]),
        })
        return out

    def report(self) -> dict:
        return {
            **latency_report("query", self.latencies()),
            **latency_report("write", [x["s"] for x in self.writes]),
            "ingest_rows_per_s": self.metrics()["throughput_per_s"],
            "stored_bytes_per_row": self.table_bytes / max(self.live_rows, 1),
            "commits": self.commits,
            "compactions": len(self.compactions),
            "live_rows": self.live_rows,
            "end_state_ok": self.end_state_ok,
            "rowsets_per_read_seq": [rd["rowsets"] for rd in self.reads[:: len(INGEST_READS)]],
            "policy": self.policy,
        }


# ----------------------------------------------------------------- llm

#: perplexity filter cut-off, milli-nats per token
PPL_MAX = 8_900
LLM_DOCS = 1_000
#: top-k queries per pass; every pass asks new vectors (a repeated vector
#: would reuse its compiled plan and form a faster cluster)
TOPK_QUERIES = 10
TOPK_K = 10
MAX_PASSES = 40
STAGES = ("quality", "dedup_exact", "dedup_minhash", "perplexity", "chunk")
CHUNK_SIZE = 32
CHUNK_OVERLAP = 8


def ppl_milli(text: str) -> int | None:
    """The perplexity stage's score, computed independently: minus the
    mean per-token log-probability in milli-nats, floored (bigram, else
    unigram, else -10000 per token after the first); None under two
    tokens."""
    toks = re.split(r"\s+", text.lower().strip(" "))
    if len(toks) < 2:
        return None
    total = 0
    for prev, cur in zip(toks, toks[1:]):
        lp = gen.PPL_BIGRAMS.get((prev, cur))
        total += lp if lp is not None else gen.PPL_UNIGRAMS.get(cur, -10_000)
    return math.floor(-total / (len(toks) - 1))


def chunk_rows(doc_id: int, text: str) -> list[tuple[int, int, str]]:
    """The chunk stage's ``(doc_id, chunk_index, chunk_text)`` rows,
    computed independently: windows of ``CHUNK_SIZE`` tokens whose
    starts advance by ``CHUNK_SIZE - CHUNK_OVERLAP`` while a start
    leaves more than ``CHUNK_OVERLAP`` tokens (always one window)."""
    toks = re.split(r"\s+", text.strip(" "))
    starts = range(0, max(len(toks) - CHUNK_OVERLAP, 1), CHUNK_SIZE - CHUNK_OVERLAP)
    return [(doc_id, i, " ".join(toks[s:s + CHUNK_SIZE])) for i, s in enumerate(starts)]


def _stage_call(stage: str, df):
    """One chain stage, called through ``palo_spark.operators`` so a
    traced run sees every operator call."""
    import palo_spark.operators as ops
    from pyspark.sql import functions as F

    if stage == "quality":
        kept = ops.gopher_rules(df, "text", min_words=30, min_stop_words=2).filter("keep")
        return kept.select("doc_id", "text").filter(ops.quality_score("text") >= 0.5)
    if stage == "dedup_exact":
        return ops.dedup_exact(df)
    if stage == "dedup_minhash":
        return ops.dedup_minhash(df)
    if stage == "perplexity":
        scored = ops.perplexity_score(df, bigram_logprobs=gen.PPL_BIGRAMS,
                                      unigram_logprobs=gen.PPL_UNIGRAMS)
        return scored.filter(F.col("ppl_milli") <= PPL_MAX).select("doc_id", "text")
    if stage == "chunk":
        return ops.chunk_documents(df, chunk_size=CHUNK_SIZE, overlap=CHUNK_OVERLAP)
    raise ValueError(stage)


class LlmPipeline(Workload):
    """Repeated passes of the corpus chain over a generated corpus."""

    name = "llm_pipeline"

    def __init__(self, h: Harness, seed: int) -> None:
        super().__init__(h)
        corpus, self.planted = gen.llm_corpus(seed, LLM_DOCS)
        self.n_docs = corpus.num_rows
        self.texts = dict(zip(corpus.column("doc_id").to_pylist(),
                              corpus.column("text").to_pylist()))
        self.corpus_path = os.path.join(self.inputs, "corpus.parquet")
        self.emb_path = os.path.join(self.inputs, "embeddings.parquet")
        pq.write_table(corpus, self.corpus_path)
        emb = gen.embeddings_table(seed)
        pq.write_table(emb, self.emb_path)
        with open(os.path.join(self.inputs, "planted.json"), "w") as f:
            json.dump(self.planted, f)
        self.vectors = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False))
        self.queries = gen.topk_queries(seed, TOPK_QUERIES * (MAX_PASSES + 1))
        self.policy = (f"{self.n_docs} docs ({len(self.planted)} planted dups); "
                       f"{TOPK_QUERIES} top-{TOPK_K} queries per pass")

    def setup(self) -> None:
        spark = self.h.start_session()
        self.docs = spark.read.parquet(self.corpus_path)
        self.emb = spark.read.parquet(self.emb_path).localCheckpoint(eager=True)
        warm = self.docs.filter(f"doc_id < {LLM_DOCS // 10}")
        self._pass(-1, warm, self.queries[-1:], False)

    def _pass(self, p: int, docs, queries, traced: bool) -> dict:
        """One pass of the chain. Each stage is its operator call then
        one action that materializes its output for the next stage."""
        import palo_spark.operators as ops
        from pyspark.sql import functions as F

        h = self.h
        rec = {"p": p, "traced": traced, "stages": {}, "frames": {}, "topk": [],
               "queries": queries, "ok": True}
        t_pass = now()
        df = docs
        for st in STAGES:
            op = f"p{p:03d}.{st}"
            state = {}

            def run(st=st, df=df, state=state):
                t0 = now()
                out = _stage_call(st, df)
                state["call"] = now() - t0
                if st == "chunk":
                    state["out"] = out
                    return h.action(lambda: out.agg(
                        F.count("*"),
                        F.sum(F.xxhash64("doc_id", "chunk_index", "chunk_text")),
                    ).collect()[0])
                return h.action(lambda: out.localCheckpoint(eager=True))

            dt, out, ok = h.timed(op, run, traced)
            rec["ok"] &= ok
            rec["stages"][st] = (state.get("call", dt), dt)
            if not ok:
                break
            if st == "chunk":
                rec["fingerprint"] = tuple(out)
                rec["frames"][st] = state["out"]
            else:
                rec["frames"][st] = df = out
        for j, q in enumerate(queries):
            dt, rows, ok = h.timed(
                f"p{p:03d}.topk{j:02d}",
                lambda q=q: h.action(ops.similarity_topk(self.emb, q.tolist(), k=TOPK_K).collect),
                traced,
            )
            rec["topk"].append({"s": dt, "ok": ok,
                                "ids": [r[0] for r in rows] if ok else None})
        rec["s"] = now() - t_pass
        return rec

    def measure(self, seconds: float) -> None:
        self.passes = []
        t0 = now()
        while len(self.passes) < MAX_PASSES and (
                now() - t0 < seconds or len(self.passes) < 2
                or len(self.latencies()) < MIN_SAMPLES):
            p = len(self.passes)
            qs = self.queries[p * TOPK_QUERIES:(p + 1) * TOPK_QUERIES]
            self.passes.append(self._pass(p, self.docs, qs, self.h.trace_op(p)))
        self.attempted = sum(1 + len(r["topk"]) for r in self.passes)

    def check(self) -> None:
        import duckdb

        first = self.passes[0]
        self.recall = 0.0
        self.exact_got = self.exact_expected = None
        self.minhash_got = self.minhash_expected = None
        self.chunks_got = self.chunks_expected = None
        ok = first["ok"]
        if ok:
            q_ids = [r[0] for r in first["frames"]["quality"].select("doc_id").collect()]
            ex_ids = {r[0] for r in first["frames"]["dedup_exact"].select("doc_id").collect()}
            mh_ids = {r[0] for r in first["frames"]["dedup_minhash"].select("doc_id").collect()}
            con = duckdb.connect()
            con.execute("CREATE TABLE kept (doc_id BIGINT)")
            con.executemany("INSERT INTO kept VALUES (?)", [(i,) for i in q_ids])
            want = {r[0] for r in con.execute(
                f"SELECT MIN(doc_id) FROM read_parquet('{self.corpus_path}') "
                "WHERE doc_id IN (SELECT doc_id FROM kept) "
                "GROUP BY lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))"
            ).fetchall()}
            con.close()
            self.exact_expected, self.exact_got = len(want), len(ex_ids)
            ok &= want == ex_ids
            # unrelated word-soup documents share almost no shingles, so
            # MinHash removes exactly the planted near duplicates whose
            # source also survived exact dedup, and nothing else
            near = {d for d, (kind, src) in self.planted.items()
                    if kind == "near" and d in ex_ids and src in ex_ids}
            self.minhash_expected, self.minhash_got = len(ex_ids - near), len(mh_ids)
            ok &= mh_ids == ex_ids - near
            q_set = set(q_ids)
            reached = [d for d, (_, src) in self.planted.items() if d in q_set and src in q_set]
            removed = [d for d in reached if d not in mh_ids]
            self.recall = len(removed) / len(reached) if reached else 0.0
            ok &= bool(reached) and self.recall == 1.0
            ppl_ids = {r[0] for r in first["frames"]["perplexity"].select("doc_id").collect()}
            scores = {d: ppl_milli(self.texts[d]) for d in mh_ids}
            ok &= ppl_ids == {d for d, s in scores.items() if s is not None and s <= PPL_MAX}
            got = first["frames"]["chunk"].select("doc_id", "chunk_index", "chunk_text").collect()
            want_chunks = sorted(c for d in ppl_ids for c in chunk_rows(d, self.texts[d]))
            self.chunks_expected, self.chunks_got = len(want_chunks), len(got)
            ok &= sorted(tuple(r) for r in got) == want_chunks
        # brute-force cosine top-k in numpy
        v = self.vectors.astype(np.float64)
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        bad_topk = 0
        for r in self.passes:
            for q, res in zip(r["queries"], r["topk"]):
                qq = q.astype(np.float64) / np.linalg.norm(q)
                s = v @ qq
                want = sorted(range(len(s)), key=lambda i: (-s[i], i))[:TOPK_K]
                if not res["ok"] or res["ids"] != want:
                    res["ok"] = False
                    bad_topk += 1
        # later passes must reproduce the first pass's output
        fp = first.get("fingerprint")
        bad_pass = 0
        for r in self.passes:
            r["ok"] &= ok and r.get("fingerprint") == fp
            bad_pass += not r["ok"]
        self.failed = bad_pass + bad_topk

    def latencies(self) -> list[float]:
        return [t["s"] for r in self.passes for t in r["topk"]]

    def metrics(self) -> dict[str, float]:
        return {
            "query_p50_ms": stats.percentile(self.latencies(), 0.5) * 1000,
            "throughput_per_s": self.n_docs / statistics.median(r["s"] for r in self.passes),
        }

    def layers(self) -> dict[str, float]:
        out = self.base_layers()
        traced = [r for r in self.passes if r["traced"]]
        stage_ops = [o for o in self.traced_ops() if ".topk" not in o]
        calls = sum(c for r in traced for c, _ in r["stages"].values())
        totals = sum(t for r in traced for _, t in r["stages"].values())
        for st in STAGES:
            out[f"operators.{st}_ms"] = _ms([r["stages"][st][1] for r in traced
                                             if st in r["stages"]])
        topk_t = [sum(t["s"] for t in r["topk"]) for r in traced]
        ops_per_pass = {}
        for o, j in self.h.jobs.items():
            ops_per_pass.setdefault(o.split(".")[0], []).append(j)
        passes = list(ops_per_pass.values())
        n = max(len(passes), 1)
        out.update({
            "session.jobs_per_op": sum(j[0] for js in passes for j in js) / n,
            "session.stages_per_op": sum(j[1] for js in passes for j in js) / n,
            "session.tasks_per_op": sum(j[2] for js in passes for j in js) / n,
            "operators.similarity_topk_ms": _ms(topk_t),
            "operators.call_share": calls / totals if totals else 0.0,
            "operators.jobs_per_stage": (
                sum(self.h.jobs[o][0] for o in stage_ops) / len(stage_ops) if stage_ops else 0.0),
            "operators.planted_dup_recall": self.recall,
            "trace.overhead_ms": self.overhead_ms(
                [(r["traced"], t["s"]) for r in self.passes for t in r["topk"]]),
        })
        return out

    def report(self) -> dict:
        return {
            **latency_report("query", self.latencies()),
            "docs_per_s": self.metrics()["throughput_per_s"],
            "policy": self.policy,
            "passes": len(self.passes),
            "pass_s": [round(r["s"], 3) for r in self.passes],
            "exact_dedup_survivors": [self.exact_got, self.exact_expected],
            "minhash_survivors": [self.minhash_got, self.minhash_expected],
            "chunks": [self.chunks_got, self.chunks_expected],
            "planted_dup_recall": self.recall,
        }


WORKLOADS = {w.name: w for w in (OlapDashboard, IngestUpsert, LlmPipeline)}
