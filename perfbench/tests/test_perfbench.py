"""Spark-free tests of the benchmark's own logic: seeded generators, the
percentile and seam rules, span self-time arithmetic and the ingest
replay model.

    python3 -m pytest perfbench/tests -q
"""

import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402


def first_touch_share(stream, n):
    """Share of the first ``n`` ops whose text was not issued before."""
    seen, misses = set(), 0
    for _, sql, _ in stream[:n]:
        misses += sql not in seen
        seen.add(sql)
    return misses / n


# ------------------------------------------------------------ generators

def test_star_tables_deterministic_per_seed():
    a, b, c = gen.star_tables(5), gen.star_tables(5), gen.star_tables(6)
    assert all(a[n].equals(b[n]) for n in a)
    assert not a["lineitem"].equals(c["lineitem"])


def test_line_numbers_restart_per_order():
    li = gen.star_tables(1)["lineitem"].to_pydict()
    prev, expect = None, 1
    for o, ln in zip(li["l_orderkey"], li["l_linenumber"]):
        expect = expect + 1 if o == prev else 1
        assert ln == expect
        prev = o


def test_olap_stream_deterministic_and_fixed_miss_share():
    s = gen.olap_stream(3)
    assert s == gen.olap_stream(3)
    assert s != gen.olap_stream(4)
    assert len({sql for _, sql, _ in s}) < 128  # fits the result cache
    cycle = gen.FRESH_EVERY * len(gen.OLAP_TEMPLATES)
    for n in range(cycle, len(s) + 1, cycle):
        assert first_touch_share(s, n) == pytest.approx(1 / gen.FRESH_EVERY)


def test_olap_stream_cycles_have_one_mix():
    s = gen.olap_stream(7)
    names = [n for n, *_ in gen.OLAP_TEMPLATES]
    cycle = gen.FRESH_EVERY * len(names)
    seen: set = set()
    for c in range(0, len(s) - cycle + 1, cycle):
        fresh = []
        for t, sql, _ in s[c:c + cycle]:
            if sql not in seen:
                fresh.append(t)
                seen.add(sql)
        assert sorted(t for t, _, _ in s[c:c + cycle]) == sorted(names * gen.FRESH_EVERY)
        assert sorted(fresh) == sorted(names)


def test_warmup_texts_stay_outside_the_grid():
    grid = {sql for _, sql, _ in gen.olap_grid(2)}
    assert not grid & set(gen.olap_warmup(2))


def test_ingest_batches_deterministic_unique_keys_and_overlap():
    a, b = gen.ingest_batches(9, 12), gen.ingest_batches(9, 12)
    assert [x["label"] for x in a] == [x["label"] for x in b]
    assert all(x["rows"].equals(y["rows"]) for x, y in zip(a, b))
    seen = set()
    for x in a:
        keys = list(zip(x["rows"]["l_orderkey"].to_pylist(),
                        x["rows"]["l_linenumber"].to_pylist()))
        assert len(set(keys)) == len(keys)  # key-unique within a batch
        if seen:
            assert len(set(keys) & seen) == int(len(keys) * gen.INGEST_OVERLAP)
        seen |= set(keys)
    assert len({x["label"] for x in a}) == len(a)


def test_replay_last_label_wins_and_merge_deletes():
    batches = gen.ingest_batches(1, 8)
    state = gen.replay(batches)
    merges = [x for x in batches if x["merge"]]
    assert merges
    deleted = set()
    for x in batches:
        d = x["rows"].to_pydict()
        for i, (k, ln) in enumerate(zip(d["l_orderkey"], d["l_linenumber"])):
            if x["merge"] and d["l_quantity"][i] < 0:
                deleted.add((k, ln))
            else:
                deleted.discard((k, ln))
    assert deleted and not deleted & set(state)
    last = batches[-1]["rows"].to_pydict()
    k = (last["l_orderkey"][-1], last["l_linenumber"][-1])
    assert state[k][1] == last["l_quantity"][-1]
    incremental: dict = {}
    for x in batches:
        gen.replay([x], incremental)
    assert incremental == state


def test_llm_corpus_plants_exact_and_near_duplicates():
    corpus, planted = gen.llm_corpus(4, 300, n_exact=10, n_near=10)
    again, planted2 = gen.llm_corpus(4, 300, n_exact=10, n_near=10)
    assert corpus.equals(again) and planted == planted2
    text = dict(zip(corpus["doc_id"].to_pylist(), corpus["text"].to_pylist()))

    def norm(t):
        return re.sub(r"\s+", " ", t.strip(" ")).lower()

    for d, (kind, src) in planted.items():
        assert d > src
        if kind == "exact":
            assert norm(text[d]) == norm(text[src]) and text[d] != text[src]
        else:
            a, b = text[d].split(), text[src].split()
            assert len(a) == len(b) and sum(x != y for x, y in zip(a, b)) <= 1


# ------------------------------------------------------------ statistics

def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 0.5) == 50
    assert stats.percentile(xs, 0.9) == 90
    assert stats.percentile([3.0], 0.5) == 3.0


def test_tail_needs_ten_samples_beyond():
    assert stats.min_samples(0.5) == 20
    assert stats.min_samples(0.75) == 40
    assert stats.min_samples(0.9) == 100
    assert stats.tail(list(range(99)), 0.9) is None
    assert stats.tail(list(range(100)), 0.9) == 89
    assert set(stats.tails(list(range(40)))) == {"p75"}
    assert workloads.MIN_SAMPLES == 20


def test_seam_rule():
    assert stats.seam_free([2 / 3, 1 / 3], [0.5])
    assert not stats.seam_free([0.5, 0.5], [0.5])
    assert not stats.seam_free([0.27, 0.73], [0.5, 0.75])  # 0.73 near p75
    assert stats.seam_free([0.9, 0.1], [0.5])
    with pytest.raises(ValueError):
        stats.seam_free([0.5, 0.4], [0.5])


def test_benchmark_mixes_are_seam_free():
    reads = workloads.INGEST_READS
    shares = [reads.count(k) / len(reads) for k in sorted(set(reads))]
    assert stats.seam_free(shares, [0.5])
    miss = 1 / gen.FRESH_EVERY
    assert stats.seam_free([miss, 1 - miss], [0.5])


def _span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_covered_child_time_once():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 5.0),   # overlaps span 1: 1..5 covered once
        _span(3, 0, 9.0, 12.0),  # runs past the parent: clipped to 9..10
        _span(4, 1, 1.5, 2.0),   # grandchild: counts only against span 1
    ]
    got = stats.self_times(spans)
    assert got[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert got[1] == pytest.approx(3.0 - 0.5)
    assert got[2] == pytest.approx(2.0)
    assert got[3] == pytest.approx(3.0)
    assert got[4] == pytest.approx(0.5)


def test_covered_merges_intervals():
    assert stats.covered([]) == 0.0
    assert stats.covered([(0, 1), (2, 3)]) == 2.0
    assert stats.covered([(0, 2), (1, 3), (5, 6)]) == 4.0


# ------------------------------------------------------------ checks

def test_same_rows_ignores_order_and_summation_noise():
    assert workloads.same_rows([("a", 1, 0.1 + 0.2)], [("a", 1, 0.3)])
    assert workloads.same_rows([(2, "x"), (1, "y")], [(1, "y"), (2, "x")])
    assert not workloads.same_rows([("a", 1)], [("a", 2)])
    assert not workloads.same_rows([("a", 1)], [("a", 1), ("a", 1)])
    assert not workloads.same_rows([("a", 1.0)], [("a", 1.01)])


def test_tracer_wraps_and_restores():
    import spans

    class Box:
        @staticmethod
        def f(x):
            return x + 1

    t = spans.Tracer()
    t.wrap(Box, "f", "box.f", lambda attrs, args, res: attrs.update(arg=args[0]))
    assert Box.f(1) == 2 and not t.spans  # disabled: no span
    t.enabled, t.op = True, "op1"
    with t.span("outer"):
        Box.f(5)
    t.restore()
    assert [s["name"] for s in t.spans] == ["outer", "box.f"]
    assert t.spans[1]["parent"] == 0 and t.spans[1]["attrs"] == {"arg": 5}
    assert t.of_op("op1") == t.spans
    assert not hasattr(Box.__dict__["f"].__func__, "__wrapped__")


def test_chunk_oracle_windows():
    text = " ".join(f"w{i}" for i in range(50))
    rows = workloads.chunk_rows(7, "  " + text + " ")
    assert [(d, i) for d, i, _ in rows] == [(7, 0), (7, 1)]
    assert rows[0][2].split() == [f"w{i}" for i in range(32)]
    assert rows[1][2].split() == [f"w{i}" for i in range(24, 50)]
    assert [r[2] for r in workloads.chunk_rows(1, "a b")] == ["a b"]


def test_perplexity_oracle_backs_off_bigram_unigram_oov():
    # "of the": bigram; "the and": bigram; "and zzz": oov
    assert workloads.ppl_milli("of the and zzz") == (1300 + 1200 + 10_000) // 3
    assert workloads.ppl_milli("The  AND") == 1200
    assert workloads.ppl_milli("alone") is None


def test_ingest_schema_is_defined_once():
    assert gen.ingest_spark_schema().split(", ")[-1] == "l_returnflag STRING"
    ddl = gen.ingest_ddl("t")
    assert "UNIQUE KEY(l_orderkey, l_linenumber)" in ddl and "VARCHAR(1)" in ddl
    rows = gen.ingest_batches(3, 1)[0]["rows"]
    assert tuple(rows.column_names) == gen.INGEST_COLUMNS
    assert workloads.POINT_SQL.startswith("SELECT " + ", ".join(gen.INGEST_COLUMNS) + " ")
